"""Pure-Python single-node oracle for the CPG pipeline.

Computes expected query results over the fixture corpus WITHOUT Spark: files
are parsed sequentially with the same frontends, then each query's expected
rows are derived with plain dict/set logic — a simple, independent
re-implementation of what the distributed pipeline computes with joins,
groupBys and id-hashing. The driver compares the Spark result against these
rows rendered as DuckDB ``VALUES`` SQL, so any divergence introduced by the
distributed plan (id collisions, join bugs, shuffle nondeterminism, wrong
aliasing) is caught.

This mirrors the reference's own test strategy: golden expectations derived
from a trusted sequential run (Code2CpgFixture / succOf oracle,
x2cpg/src/test/.../testfixtures/CfgTestFixture.scala:44-57).
"""

from __future__ import annotations

from functools import lru_cache

from joern_spark import model as M
from joern_spark.corpus import fixture_rows
from joern_spark.operators.parse import _parse_one


@lru_cache(maxsize=1)
def local_files() -> list[tuple[str, str, str, str, list[dict]]]:
    """[(repo, path, commit, lang, rows)] for the fixture corpus, parsed
    sequentially (fused intraprocedural edges included)."""
    import hashlib
    out = []
    for repo, path, commit, lang, content in fixture_rows():
        sha = hashlib.sha256(content.encode()).hexdigest()
        rows = _parse_one(repo, path, commit, lang, content, sha, True)
        assert not any(r["parse_error"] for r in rows), (path, rows[0]["parse_error"])
        out.append((repo, path, commit, lang, rows))
    return out


def _methods():
    for repo, path, commit, lang, rows in local_files():
        for r in rows:
            if r["kind"] == M.METHOD:
                yield lang, path, r, rows


# --------------------------------------------------------------------------- #
# Expected result sets (sorted lists of tuples)
# --------------------------------------------------------------------------- #

def expected_methods() -> list[tuple[str, str, str]]:
    """(lang, path, method_full_name) for every parsed (internal) method."""
    return sorted({(lang, path, r["full_name"]) for lang, path, r, _ in _methods()})


def expected_method_params() -> list[tuple[str, str, int]]:
    """(method_full_name, param_name, param_index) for c/cpp/java methods."""
    out = set()
    for lang, path, m, rows in _methods():
        if lang not in ("c", "cpp", "java"):
            continue
        for r in rows:
            if r["kind"] == M.METHOD_PARAMETER_IN and r["parent_idx"] == m["node_idx"]:
                out.add((m["full_name"], r["name"], r["param_index"]))
    return sorted(out)


def expected_static_calls() -> list[tuple[str, str]]:
    """(caller_full_name, callee_full_name) where the callee is a parsed
    method anywhere in the corpus *of the same language* — the static-linking
    hash join re-derived with sets."""
    methods_by_lang: dict[str, dict[str, str]] = {}
    for lang, path, m, rows in _methods():
        methods_by_lang.setdefault(lang, {})[m["full_name"]] = m["full_name"]
    out = set()
    for repo, path, commit, lang, rows in local_files():
        by_idx = {r["node_idx"]: r for r in rows}
        for r in rows:
            if r["kind"] != M.CALL or r["dispatch_type"] != M.STATIC_DISPATCH:
                continue
            callee = r["method_full_name"]
            if callee in methods_by_lang.get(lang, {}):
                caller = by_idx.get(r["method_idx"])
                if caller is not None:
                    out.add((caller["full_name"], callee))
    return sorted(out)


def expected_dynamic_calls() -> list[tuple[str, str, str, str]]:
    """(caller_full_name, call_code, call_mfn, callee_full_name) — the SAFEDISPATCH
    candidate resolution re-derived sequentially: the BINDING vtable of the
    receiver type + every transitive subtype, entries matched on name plus
    binding signature (exact when the site has one, arity gate otherwise),
    mirroring dynamic_call_edges' validM routing."""
    # global method dim + inheritance edges (the distributed linker joins
    # one global dimension — fullnames are namespace/package-scoped)
    all_methods: list[dict] = []
    subs: dict[str, set[str]] = {}
    for repo, path, commit, lang, rows in local_files():
        for r in rows:
            if r["kind"] == M.METHOD:
                all_methods.append(r)
            if r["kind"] == M.TYPE_DECL and r.get("inherits_from"):
                for anc in r["inherits_from"]:
                    subs.setdefault(anc, set()).add(r["full_name"])
    method_fns = {m["full_name"] for m in all_methods}
    vtable = _binding_table_seq()

    def descendants(t):
        out, stack = set(), [t]
        while stack:
            cur = stack.pop()
            for d in subs.get(cur, ()):
                if d not in out:
                    out.add(d)
                    stack.append(d)
        return out

    def sig_arity(sig):
        if "(" not in (sig or ""):
            return None
        return _sig_arity_of(sig)

    # internal methods grouped by bare name — the NaiveCallLinker fallback
    # dimension (naive_call_edges: dim.filter(~is_external) joined on name)
    internal_by_name: dict[str, list[dict]] = {}
    for m in all_methods:
        if not m.get("is_external"):
            internal_by_name.setdefault(m["name"], []).append(m)

    out = set()
    for repo, path, commit, lang, rows in local_files():
        by_idx = {r["node_idx"]: r for r in rows}
        rec = _js_recovered(rows) if lang == "javascript" else {}
        # recovered sites link to their (stub) fullname via the type-hint
        # linker (type_hint_call_edges)
        for idx, mfn in rec.items():
            r = by_idx[idx]
            caller = by_idx.get(r["method_idx"])
            if caller is not None:
                out.add((caller["full_name"], r["code"], mfn, mfn))
        for r in rows:
            if r["kind"] != M.CALL or r["dispatch_type"] != M.DYNAMIC_DISPATCH:
                continue
            caller = by_idx.get(r["method_idx"])
            if caller is None:
                continue
            linked = r["node_idx"] in rec
            mfn = r["method_full_name"]
            base, _, call_sig = mfn.partition(":")
            if mfn and mfn != M.UNKNOWN_FULL_NAME and "." in base:
                recv, _, call_name = base.rpartition(".")
                for it in {recv} | descendants(recv):
                    for (n, s), t in vtable.get(it, {}).items():
                        if n != call_name or t not in method_fns:
                            continue
                        if call_sig and M.UNRESOLVED_SIGNATURE not in call_sig:
                            ok = s == call_sig
                        else:
                            ar = sig_arity(s)
                            ok = (ar is None or r["nargs"] < 0
                                  or ar == r["nargs"])
                        if ok:
                            out.add((caller["full_name"], r["code"], mfn, t))
                            linked = True
            if not linked:
                # NaiveCallLinker fallback: an unlinked call joins EVERY
                # internal method with its bare name
                # (NaiveCallLinker.scala:15-21; naive_call_edges)
                for m in internal_by_name.get(r["name"], ()):
                    out.add((caller["full_name"], r["code"], mfn,
                             m["full_name"]))
    return sorted(out)


JS_GLOBAL_BUILTINS = {
    "console": "__whatwg.console",
    "Math": "__ecma.Math",
    "JSON": "__ecma.JSON",
    "Number": "__ecma.Number",
    "Promise": "__ecma.Promise",
}


def _js_recover(rows: list[dict]) -> tuple[dict[int, str], dict[str, list[str]]]:
    """(node_idx -> recovered methodFullName, var -> ordered type hints) —
    the sequential mirror of operators.typerecovery.js_mfn_rewrites:
    flow-insensitive, 2 iterations, reference `:`-separated fullname scheme
    (x2cpg XTypeRecovery pathSep; TypeRecoveryPassTests.scala:
    google.drive -> "googleapis:drive", sg.send ->
    "sendgrid:SendGridAPIClient:send", response ->
    "...:send:<returnValue>"). Seeds: require() bindings, ES import
    bindings (IMPORT nodes carry the resolved type in full_name),
    destructured-require field accesses, literal builtins
    (__ecma.Number/String), array-literal lowerings (__ecma.Array), and
    `new T(...)` constructor results. A member call is rewritten only when
    its receiver has exactly ONE recovered type."""
    import posixpath
    import re

    kids: dict[int, list[dict]] = {}
    for r in rows:
        kids.setdefault(r["parent_idx"], []).append(r)

    def child(idx, ai, kinds=None):
        for c in kids.get(idx, []):
            if c["arg_index"] == ai and (kinds is None or c["kind"] in kinds):
                return c
        return None

    st: dict[str, list[str]] = {}

    def add(var, ty):
        lst = st.setdefault(var, [])
        if ty not in lst:
            lst.append(ty)

    # ES import / require IMPORT-node seeds (full_name = resolved type).
    # A RELATIVE import whose target module exists in the corpus is
    # resolved (JavaScriptImportResolverPass): the binding adopts the
    # exporting module's exported entity — its `module.exports` closure,
    # the named/default export, or the module's `::program` entity itself
    # (CallLinkerPassTests receiver typeFullName "bar.js::program";
    # RequirePassTests "sampleone.js::program:<lambda>0")
    stem_map: dict[str, str] = {}
    for pth in {r.get("path") or "" for r in rows}:
        if pth:
            stem_map[pth.rsplit(".", 1)[0]] = pth

    def resolve_rel(importer: str, mod: str) -> str | None:
        if not mod.startswith("."):
            return None
        base = posixpath.normpath(
            posixpath.join(posixpath.dirname(importer), mod))
        return stem_map.get(base) or stem_map.get(base.rsplit(".", 1)[0])

    # (binding var, exporting path, imported member | None for require)
    rel_resolved: list[tuple[str, str, str | None]] = []
    for r in rows:
        if r["kind"] == M.IMPORT and r.get("canonical_name"):
            mod, _, member = r["full_name"].partition(":")
            src = resolve_rel(r.get("path") or "", mod)
            if src is not None:
                rel_resolved.append((r["canonical_name"], src,
                                     member or r["canonical_name"]))
                continue
            add(r["canonical_name"], r["full_name"])

    # global builtin receivers (jssrc2cpg GlobalBuiltins;
    # TypeRecoveryPassTests "recovering paths for built-in calls":
    # console.log -> __whatwg.console:log, Math.abs -> __ecma.Math:abs)
    for gname, gty in JS_GLOBAL_BUILTINS.items():
        add(gname, gty)

    assigns = []
    for r in rows:
        if r["kind"] == M.CALL and r["name"] == M.OP_ASSIGNMENT:
            lh = child(r["node_idx"], 1, (M.IDENTIFIER,))
            rh = child(r["node_idx"], 2)
            if lh is not None and rh is not None:
                assigns.append((lh["name"], rh))

    news: list[tuple[str, str]] = []  # (var, constructed type name)
    for var, rh in assigns:
        if rh["kind"] == M.CALL and rh["name"] == "require":
            lit = child(rh["node_idx"], 1, (M.LITERAL,))
            if lit is not None:
                mod = re.sub(r"['\"`]", "", lit["code"])
                src = resolve_rel(rh.get("path") or "", mod)
                if src is not None:
                    rel_resolved.append((var, src, None))
                else:
                    add(var, mod)
        elif rh["kind"] == M.LITERAL:
            code = rh["code"]
            if code[:1] in "'\"`":
                add(var, "__ecma.String")
            elif re.fullmatch(r"[0-9][0-9_.xXbBoOeE+-]*", code):
                add(var, "__ecma.Number")
        elif rh["kind"] == M.BLOCK:
            # lowered array literal (`__ecma.Array.factory()`) or `new T()`
            for c in kids.get(rh["node_idx"], []):
                if c["kind"] == M.CALL and c["name"] == M.OP_ASSIGNMENT:
                    inner = child(c["node_idx"], 2)
                    if inner is not None and inner["kind"] == M.CALL and \
                            inner["name"] == "__ecma.Array.factory":
                        add(var, "__ecma.Array")
                    # object-literal method: `_tmp.f = <methodRef>` seeds
                    # `var.f` with the closure's fullname
                    flhs = child(c["node_idx"], 1, (M.CALL,))
                    if inner is not None and inner["kind"] == M.METHOD_REF \
                            and inner.get("method_full_name") \
                            and flhs is not None \
                            and flhs["name"] == M.OP_FIELD_ACCESS:
                        fi = child(flhs["node_idx"], 2,
                                   (M.FIELD_IDENTIFIER,))
                        if fi is not None:
                            add(f'{var}.{fi["canonical_name"]}',
                                inner["method_full_name"])
                if c["kind"] == M.CALL and c["name"] == M.OP + "new":
                    recv = None
                    for cc in kids.get(c["node_idx"], []):
                        if cc["kind"] == M.IDENTIFIER and cc["arg_index"] == -1:
                            recv = cc
                    if recv is not None:
                        news.append((var, recv["name"]))

    member = []
    direct = []  # simple `f()` calls: receiver IS an identifier
    for r in rows:
        if r["kind"] == M.CALL and r["dispatch_type"] == M.DYNAMIC_DISPATCH \
                and r["method_full_name"] == M.UNKNOWN_FULL_NAME \
                and r["name"] not in ("require",):
            b = child(r["node_idx"], 0, (M.IDENTIFIER,))
            if b is None:
                continue
            recv = child(r["node_idx"], -1, (M.IDENTIFIER,))
            if recv is not None and b["name"] == "this":
                # `sayhi()` — base is the implicit `this`, the receiver the
                # callee identifier (TypeHintCallLinker on a single-typed
                # callable; CallLinkerPassTests "create call edges
                # correctly", RequirePassTests)
                direct.append((r, recv["name"]))
            else:
                member.append((r, b["name"]))

    # `v = <methodRef>` binds the closure's fullname (resolve a function
    # full name called as a constructor, TypeRecoveryPassTests:467-477)
    for var, rh in assigns:
        if rh["kind"] == M.METHOD_REF and rh.get("method_full_name"):
            add(var, rh["method_full_name"])

    # `exports.f = <methodRef>` / `module.exports = ...` — exported members
    # carry the closure fullname, path-scoped (`exports@<path>.<fld>`) so
    # multi-module corpora don't cross-contaminate; `module.exports = {f:
    # function(){}}` object-literal exports register each property; a plain
    # identifier rhs aliases the exported local's types each iteration
    # ("Recovered values that are returned in methods";
    # CallLinkerPassTests "link exported <lambda> functions")
    export_ident: list[tuple[str, str]] = []  # (exports@path.fld, local var)
    for r in rows:
        if r["kind"] != M.CALL or r["name"] != M.OP_ASSIGNMENT:
            continue
        flhs = child(r["node_idx"], 1, (M.CALL,))
        rh = child(r["node_idx"], 2)
        if flhs is None or rh is None or flhs["name"] != M.OP_FIELD_ACCESS:
            continue
        base = child(flhs["node_idx"], 1, (M.IDENTIFIER,))
        fld = child(flhs["node_idx"], 2, (M.FIELD_IDENTIFIER,))
        if base is None or fld is None \
                or base["name"] not in ("exports", "module"):
            continue
        key = f'exports@{r.get("path") or ""}.{fld["canonical_name"]}'
        if rh["kind"] == M.METHOD_REF and rh.get("method_full_name"):
            add(key, rh["method_full_name"])
        elif rh["kind"] == M.IDENTIFIER:
            export_ident.append((key, rh["name"]))
        elif rh["kind"] == M.BLOCK:
            # object-literal export: `_tmp.g = <methodRef>` inside the
            # lowered block registers each exported property
            for c in kids.get(rh["node_idx"], []):
                if c["kind"] != M.CALL or c["name"] != M.OP_ASSIGNMENT:
                    continue
                pfa = child(c["node_idx"], 1, (M.CALL,))
                pm = child(c["node_idx"], 2, (M.METHOD_REF,))
                if pfa is None or pm is None \
                        or pfa["name"] != M.OP_FIELD_ACCESS \
                        or not pm.get("method_full_name"):
                    continue
                pfi = child(pfa["node_idx"], 2, (M.FIELD_IDENTIFIER,))
                if pfi is not None:
                    add(f'exports@{r.get("path") or ""}.'
                        f'{pfi["canonical_name"]}', pm["method_full_name"])

    # TS type-annotation hints: params carry the raw annotation text in
    # typeFullName; resolve the head against the symbol table each
    # iteration ("Type hints for method parameters and returns")
    ann_params = [r for r in rows
                  if r["kind"] == M.METHOD_PARAMETER_IN
                  and r["name"] != "this"
                  and r["type_full_name"] not in (M.ANY, "", "__ecma.Array")]
    methods_by_idx = {r["node_idx"]: r for r in rows if r["kind"] == M.METHOD}
    mret_ann: dict[int, str] = {}
    for r in rows:
        if r["kind"] == M.METHOD_RETURN \
                and r["type_full_name"] not in (M.ANY, "", None) \
                and r["parent_idx"] in methods_by_idx:
            mret_ann[r["parent_idx"]] = r["type_full_name"]
    returns: list[tuple[int, dict]] = []
    for r in rows:
        if r["kind"] == M.RETURN:
            for c in kids.get(r["node_idx"], []):
                returns.append((r["method_idx"], c))

    def resolve_ann(ann: str) -> str | None:
        parts = ann.split(".")
        tys = st.get(parts[0], [])
        if len(tys) == 1:
            return ":".join([tys[0]] + parts[1:])
        return None

    newcalls = [r for r in rows
                if r["kind"] == M.CALL and r["name"] == M.OP + "new"]

    # annotated class members: `v = this.<f>` adopts the member's resolved
    # annotation type (TS three-address lowering, TypeRecoveryPassTests
    # "Temporary variables inserted ...")
    ann_members = [r for r in rows
                   if r["kind"] == M.MEMBER
                   and r["type_full_name"] not in (M.ANY, "", None)]
    this_fa_edges: list[tuple[str, str]] = []  # (lhs var, member fld)
    for var, rh in assigns:
        if rh["kind"] == M.CALL and rh["name"] == M.OP_FIELD_ACCESS:
            b = child(rh["node_idx"], 1, (M.IDENTIFIER,))
            fi = child(rh["node_idx"], 2, (M.FIELD_IDENTIFIER,))
            if b is not None and fi is not None and b["name"] == "this":
                this_fa_edges.append((var, fi["canonical_name"]))

    # class-member types from ctor-body assignments (class-field
    # initializers lower into <init>): `bar = class Bar {...}` /
    # `f = <methodRef>` types member `bar` of the enclosing class —
    # typeHintForThisExpression + member flow (CallLinkerPassTests
    # "create call edges correctly for methods from classes")
    mem_ctor_ty: dict[tuple[str, str], str] = {}  # (class_fn, fld) -> type
    for r in rows:
        if r["kind"] != M.CALL or r["name"] != M.OP_ASSIGNMENT:
            continue
        m = methods_by_idx.get(r["method_idx"])
        if m is None or m["name"] != M.CONSTRUCTOR \
                or m["ast_parent_type"] != M.TYPE_DECL:
            continue
        lh = child(r["node_idx"], 1, (M.IDENTIFIER,))
        rh = child(r["node_idx"], 2)
        if lh is None or rh is None:
            continue
        ty = ""
        if rh["kind"] == M.TYPE_REF:
            td = next((c for c in kids.get(rh["node_idx"], [])
                       if c["kind"] == M.TYPE_DECL), None)
            ty = td["full_name"] if td is not None else ""
        elif rh["kind"] == M.METHOD_REF:
            ty = rh.get("method_full_name") or ""
        if ty:
            mem_ctor_ty[(m["ast_parent_full_name"], lh["name"])] = ty

    method_fns = {r["full_name"] for r in rows if r["kind"] == M.METHOD}

    rec: dict[int, str] = {}
    new_rec_ids: set[int] = set()  # ctor-call rewrites: no <returnValue>

    # `this.b()` resolves against the enclosing class when the member
    # method exists (`this` dynamicTypeHint = the class fullname)
    for r, var in member:
        if var != "this":
            continue
        m = methods_by_idx.get(r["method_idx"])
        if m is None or m["ast_parent_type"] != M.TYPE_DECL:
            continue
        cand = f'{m["ast_parent_full_name"]}:{r["name"]}'
        if cand in method_fns:
            rec[r["node_idx"]] = cand

    # `new this.bar()` — the receiver field access resolves through the
    # class-member table; the constructed value types the assigned tmp so
    # a chained `.c()` composes `...:<init>:Bar:c`
    for r in newcalls:
        fa = child(r["node_idx"], -1, (M.CALL,))
        if fa is None or fa["name"] != M.OP_FIELD_ACCESS:
            continue
        b = child(fa["node_idx"], 1, (M.IDENTIFIER,))
        fi = child(fa["node_idx"], 2, (M.FIELD_IDENTIFIER,))
        m = methods_by_idx.get(r["method_idx"])
        if b is None or fi is None or m is None or b["name"] != "this":
            continue
        cls = m["ast_parent_full_name"] \
            if m["ast_parent_type"] == M.TYPE_DECL else ""
        ty = mem_ctor_ty.get((cls, fi["canonical_name"]))
        if not ty:
            continue
        ctor = f"{ty}:{M.CONSTRUCTOR}" \
            if f"{ty}:{M.CONSTRUCTOR}" in method_fns else ty
        rec[r["node_idx"]] = ctor
        new_rec_ids.add(r["node_idx"])
        # type the variable holding the new-expression block value
        blk = r["parent_idx"]
        for var, rh in assigns:
            if rh["node_idx"] == blk:
                add(var, ty)

    ret_ty: dict[str, str] = {}
    for _ in range(2):
        # annotated params / returns resolve through the (import-seeded)
        # symbol table
        for r in ann_params:
            t = resolve_ann(r["type_full_name"])
            if t is not None:
                add(r["name"], t)
        mem_ty: dict[str, str] = {}
        for r in ann_members:
            t = resolve_ann(r["type_full_name"])
            if t is not None:
                mem_ty[r["name"]] = t
        for var, fld in this_fa_edges:
            if fld in mem_ty:
                add(var, mem_ty[fld])
        for midx, ann in mret_ann.items():
            t = resolve_ann(ann)
            if t is not None:
                ret_ty[methods_by_idx[midx]["full_name"]] = t
        # identifier-rhs exports alias the exported local's types
        for key, g in export_ident:
            for t in st.get(g, ()):
                add(key, t)
        # resolved relative imports: the binding adopts the exporter's
        # exported entity — named/default export, `module.exports`
        # closure, or (for require) the module's `::program` entity; each
        # exported member also aliases under `<binding>.<member>` for
        # member-call resolution
        for var, src, memb in rel_resolved:
            if memb is not None:
                for k in (f"exports@{src}.{memb}", f"exports@{src}.default"):
                    for t in st.get(k, ()):
                        add(var, t)
            else:
                mod_fns = st.get(f"exports@{src}.exports", ())
                if mod_fns:
                    for t in mod_fns:
                        add(var, t)
                else:
                    add(var, f"{src}::program")
            pref = f"exports@{src}."
            for key in [k for k in st if k.startswith(pref)]:
                f_ = key[len(pref):]
                if f_ not in ("exports", "default"):
                    for t in st[key]:
                        add(f"{var}.{f_}", t)
        # `new F()` where F is a known closure -> the ctor call resolves to
        # the function's fullname
        for r in newcalls:
            recv = child(r["node_idx"], -1, (M.IDENTIFIER,))
            if recv is None or r["node_idx"] in rec:
                continue
            tys = [t for t in st.get(recv["name"], []) if "::" in t]
            if len(tys) == 1:
                rec[r["node_idx"]] = tys[0]
                new_rec_ids.add(r["node_idx"])
        for var, tname in news:
            for ty in st.get(tname, []):
                # the constructed VALUE is typed with the class (the ctor
                # binding's mfn minus `:<init>`) — identifiers instantiated
                # from imported classes carry the type fullname
                # (InheritanceFullNamePassTests "identifiers instantiated")
                add(var, ty[:-len(f":{M.CONSTRUCTOR}")]
                    if ty.endswith(f":{M.CONSTRUCTOR}") else ty)
        # identifier aliasing: `let d = db` copies the source's types
        # (TypeRecoveryPassTests "resolve 'foo.d' field access object
        # types correctly")
        for var, rh in assigns:
            if rh["kind"] == M.IDENTIFIER and rh["name"] != var:
                for ty in st.get(rh["name"], []):
                    add(var, ty)
        # destructured-require members: `v = _tmp.g` on a bare-module base
        for var, rh in assigns:
            if rh["kind"] == M.CALL and rh["name"] == M.OP_FIELD_ACCESS:
                b = child(rh["node_idx"], 1, (M.IDENTIFIER,))
                tys = st.get(b["name"], []) if b is not None else []
                if len(tys) == 1 and ":" not in tys[0] \
                        and not tys[0].startswith("__ecma."):
                    add(var, tys[0])
        for r, var in member:
            # direct `v.f` entries (object-literal methods) win
            dtys = [t for t in st.get(f"{var}.{r['name']}", []) if ":" in t]
            if len(dtys) == 1 and r["node_idx"] not in rec:
                rec[r["node_idx"]] = dtys[0]
                continue
            tys = st.get(var, [])
            if len(tys) == 1 and r["node_idx"] not in rec:
                rec[r["node_idx"]] = f"{tys[0]}:{r['name']}"
        # simple `f()` calls on a single-typed callable binding
        # (TypeHintCallLinker; conservative: two candidate types — the
        # flow-insensitive `barOrBaz` case — stay <unknownFullName>)
        for r, var in direct:
            if r["node_idx"] in rec:
                continue
            tys = [t for t in st.get(var, []) if "::" in t
                   and not t.endswith(f"::{M.PROGRAM_METHOD[1:]}")
                   and ":" in t.split("::", 1)[1]]
            if len(tys) == 1:
                rec[r["node_idx"]] = tys[0]
        # returned literals / recovered calls type the method return
        for midx, expr in returns:
            m = methods_by_idx.get(midx)
            if m is None or m["full_name"] in ret_ty:
                continue
            if expr["kind"] == M.LITERAL:
                c = expr["code"]
                if c[:1] in "'\"`":
                    ret_ty[m["full_name"]] = "__ecma.String"
                elif re.fullmatch(r"[0-9][0-9_.xXbBoOeE+-]*", c):
                    ret_ty[m["full_name"]] = "__ecma.Number"
            elif expr["node_idx"] in rec:
                ret_ty[m["full_name"]] = rec[expr["node_idx"]] \
                    + ":<returnValue>"
        for fn, t in ret_ty.items():
            m = next((mm for mm in methods_by_idx.values()
                      if mm["full_name"] == fn), None)
            if m is not None and m["name"] and not m["name"].startswith(":"):
                add(f'ret:{m["name"]}', t)
        for var, rh in assigns:
            if rh["node_idx"] in rec:
                mfn = rec[rh["node_idx"]]
                if mfn.startswith("__ecma.Math:"):
                    # Math methods return Numbers (TypeRecoveryPassTests:
                    # `let x = Math.abs(-1)` -> x typed __ecma.Number)
                    add(var, "__ecma.Number")
                elif mfn in ret_ty:
                    # the callee's recovered RETURN type beats (and
                    # replaces) the dummy marker ("propagate literal types
                    # to the method return": x -> __ecma.Number)
                    lst = st.get(var, [])
                    if mfn + ":<returnValue>" in lst:
                        lst.remove(mfn + ":<returnValue>")
                    add(var, ret_ty[mfn])
                elif rh["node_idx"] not in new_rec_ids:
                    add(var, mfn + ":<returnValue>")
    return rec, st


@lru_cache(maxsize=1)
def _js_recovered_corpus() -> dict[tuple[str, int], str]:
    """(path, node_idx) -> recovered mfn over ALL fixture JS files at once —
    cross-module resolution (resolved requires/imports) needs the whole
    corpus in one symbol table, exactly like the Spark twin which computes
    over the full node table."""
    all_rows: list[dict] = []
    origin: dict[int, tuple[str, int]] = {}
    base = 0
    for repo, path, commit, lang, rows in local_files():
        if lang != "javascript":
            continue
        mx = base
        for r in rows:
            rr = dict(r)
            rr["node_idx"] = r["node_idx"] + base
            for k in ("parent_idx", "method_idx", "ref_idx"):
                if rr.get(k) is not None and rr[k] >= 0:
                    rr[k] += base
            origin[rr["node_idx"]] = (path, r["node_idx"])
            mx = max(mx, rr["node_idx"])
            all_rows.append(rr)
        base = mx + 1
    rec, _ = _js_recover(all_rows)
    return {origin[i]: mfn for i, mfn in rec.items() if i in origin}


@lru_cache(maxsize=1)
def _fixture_js_paths() -> frozenset[str]:
    return frozenset(path for repo, path, commit, lang, rows in local_files()
                     if lang == "javascript")


def _js_recovered(rows: list[dict]) -> dict[int, str]:
    """Per-file view of the corpus-wide recovery for fixture files; other
    row sets (tests) recover in isolation."""
    path = rows[0]["path"] if rows else ""
    if path in _fixture_js_paths():
        return {oi: mfn for (p, oi), mfn in _js_recovered_corpus().items()
                if p == path}
    return _js_recover(rows)[0]


def _call_mfn(r: dict, rec: dict[int, str]) -> str:
    return rec.get(r["node_idx"], r["method_full_name"])


def expected_declared_only() -> list[tuple[str, str, str]]:
    """(sym_kind, name, full_name) — sequential mirror of
    q_cpg_declared_only: internal body-less METHODs (prototypes / abstract
    declarations) whose fullname never gets a bodied definition, plus
    TYPE_DECL stubs (used type fullnames without a parsed TYPE_DECL,
    mirroring used_type_fullnames + type_decl_dimension)."""
    bodied: set[str] = set()
    protos: dict[str, str] = {}
    used_types: set[str] = set()
    declared_types: set[str] = set()
    for repo, path, commit, lang, rows in local_files():
        block_parents = {r["parent_idx"] for r in rows if r["kind"] == M.BLOCK}
        for r in rows:
            tfn = r.get("type_full_name") or ""
            if tfn:
                used_types.add(tfn)
            afn = r.get("alias_type_full_name") or ""
            if afn:
                used_types.add(afn)
            for anc in (r.get("inherits_from") or []):
                used_types.add(anc)
            if r["kind"] == M.TYPE_DECL:
                declared_types.add(r["full_name"])
                used_types.add(r["full_name"])
            if r["kind"] == M.METHOD and not r.get("is_external"):
                if r["node_idx"] in block_parents:
                    bodied.add(r["full_name"])
                else:
                    protos[r["full_name"]] = r["name"]
    out = {("method", nm, fn) for fn, nm in protos.items() if fn not in bodied}
    for fn in used_types - declared_types:
        out.add(("type_decl", fn.rsplit(".", 1)[-1], fn))
    return sorted(out)


def expected_captures() -> list[tuple[str, str, str]]:
    """(path, closure_full_name, captured_name) — CAPTURE edges re-derived:
    identifier uses whose REF target declaration lives in an enclosing
    method, attributed to the closure's METHOD_REF/METHOD."""
    out = set()
    for repo, path, commit, lang, rows in local_files():
        by_idx = {r["node_idx"]: r for r in rows}
        for r in rows:
            if r["kind"] != M.IDENTIFIER or r["ref_idx"] < 0:
                continue
            decl = by_idx.get(r["ref_idx"])
            if decl is None or decl["kind"] not in (M.LOCAL, M.METHOD_PARAMETER_IN):
                continue
            if decl["method_idx"] == r["method_idx"]:
                continue
            inner = by_idx.get(r["method_idx"])
            if inner is None:
                continue
            parent = by_idx.get(inner["parent_idx"])
            if parent is None or parent["kind"] != M.METHOD_REF:
                continue
            out.add((path, inner["full_name"], decl["name"]))
    return sorted(out)


def expected_type_recovery() -> list[tuple[str, str, str]]:
    """(path, call_code, recovered_mfn) for JS calls recovered by the
    XTypeRecovery-lite pass."""
    out = set()
    for repo, path, commit, lang, rows in local_files():
        if lang != "javascript":
            continue
        for idx, mfn in _js_recovered(rows).items():
            r = next(x for x in rows if x["node_idx"] == idx)
            out.add((path, r["code"], mfn))
    return sorted(out)


def expected_findings() -> list[tuple[str, str, str, int, str]]:
    """(query_name, path, method_full_name, line, code) — the scan bundles
    re-derived sequentially (insecure calls; copy calls with a loop
    ancestor via the parent chain)."""
    from joern_spark.scan import COPY_FNS, INSECURE_FNS, LOOP_KINDS
    out = set()
    for repo, path, commit, lang, rows in local_files():
        by_idx = {r["node_idx"]: r for r in rows}

        def method_fn(r):
            m = by_idx.get(r["method_idx"])
            return m["full_name"] if m is not None else ""

        for r in rows:
            if r["kind"] != M.CALL:
                continue
            if r["name"] in INSECURE_FNS:
                out.add(("call-to-insecure-function", path, method_fn(r),
                         r["line"], r["code"]))
            if r["name"] in COPY_FNS:
                p = by_idx.get(r["parent_idx"])
                depth = 0
                while p is not None and depth < 12:
                    if p["kind"] == M.CONTROL_STRUCTURE and \
                            p["control_structure_type"] in LOOP_KINDS:
                        out.add(("copy-loop", path, method_fn(r),
                                 r["line"], r["code"]))
                        break
                    p = by_idx.get(p["parent_idx"])
                    depth += 1
    return sorted(out)


def expected_imports() -> list[tuple[str, str, str, str]]:
    """(lang, path, import_entity, code) — IMPORT nodes (#include / JS
    import), XImportsPass analogue."""
    out = set()
    for repo, path, commit, lang, rows in local_files():
        for r in rows:
            if r["kind"] == M.IMPORT:
                out.add((lang, path, r["name"], r["code"]))
    return sorted(out)


def expected_cfg_succ(path_suffix: str) -> list[tuple[str, str, str]]:
    """(method_full_name, src_code, dst_code) CFG triples for one file —
    entry/exit use the reference's markers (method code / RET)."""
    out = set()
    for repo, path, commit, lang, rows in local_files():
        if not path.endswith(path_suffix):
            continue
        by_idx = {r["node_idx"]: r for r in rows}
        for r in rows:
            if r["kind"] != M.METHOD or not r["ie_src"]:
                continue
            cfg_code = M.IE_CODE[M.CFG]
            for s_i, d_i, lbl in zip(r["ie_src"], r["ie_dst"], r["ie_label"]):
                if lbl != cfg_code:
                    continue
                s, d = by_idx[s_i], by_idx[d_i]
                out.add((r["full_name"], s["code"], d["code"]))
    return sorted(out)


def expected_reaching_defs(path_suffix: str) -> list[tuple[str, str, str, str]]:
    """(method_full_name, src_code, dst_code, variable) REACHING_DEF rows."""
    out = set()
    for repo, path, commit, lang, rows in local_files():
        if not path.endswith(path_suffix):
            continue
        by_idx = {r["node_idx"]: r for r in rows}
        for r in rows:
            if r["kind"] != M.METHOD or not r["ie_src"]:
                continue
            rdef_code = M.IE_CODE[M.REACHING_DEF]
            for s_i, d_i, lbl, var in zip(r["ie_src"], r["ie_dst"],
                                          r["ie_label"], r["ie_var"]):
                if lbl != rdef_code:
                    continue
                s, d = by_idx[s_i], by_idx[d_i]
                out.add((r["full_name"], s["code"], d["code"], var or ""))
    return sorted(out)


def js_resolve_inherits(rows: list[dict]) -> dict[int, list[str]]:
    """id(row) -> resolved inheritsFromTypeFullName for JS TYPE_DECLs — the
    sequential mirror of XInheritanceFullNamePass (jssrc flavor: pathSep
    ':', moduleName ':program', fileExt '.js').  A parent name with a
    matching TYPE_DECL anywhere in the corpus (and in the file's scope:
    same-file type decls + imported entities) resolves to its fullName(s);
    otherwise an import whose entity ends with the name synthesizes the
    external stub `<module>.js::program:<name>`
    (jssrc2cpg InheritanceFullNamePassTests)."""
    import posixpath
    td_all = [r for r in rows if r["kind"] == M.TYPE_DECL
              and (r.get("lang") or "") == "javascript"]
    # name lookup scoped to the owning project/repo — cross-repo name
    # resolution would be wrong at corpus scale (mirrors the Spark twin's
    # project_col keying)
    by_name: dict[tuple[str, str], list[str]] = {}
    for td in td_all:
        by_name.setdefault((td.get("repo") or "", td["name"]),
                           []).append(td["full_name"])
    imports_by_path: dict[str, list[str]] = {}
    for r in rows:
        if r["kind"] == M.IMPORT and r.get("full_name"):
            imports_by_path.setdefault(r.get("path") or "", []).append(
                r["full_name"])
    tds_by_path: dict[str, list[str]] = {}
    for td in td_all:
        tds_by_path.setdefault(td.get("path") or "", []).append(
            td["full_name"])
    out: dict[int, list[str]] = {}
    for td in td_all:
        parents = [p for p in (td.get("inherits_from") or [])
                   if p not in ("ANY", "object", "")]
        if not parents:
            continue
        pth = td.get("path") or ""
        scope = {qn.split(":")[-1]
                 for qn in imports_by_path.get(pth, [])
                 + tds_by_path.get(pth, [])}
        resolved: list[str] = []
        for x in parents:
            if x in scope:
                resolved += [fn for fn in by_name.get(
                    (td.get("repo") or "", x), [])
                    if fn != td["full_name"]]
        if resolved:
            out[id(td)] = sorted(set(resolved))
            continue
        synth: list[str] = []
        for x in parents:
            for qn in imports_by_path.get(pth, []):
                segs = qn.split(":")
                if segs and segs[-1] == x and len(segs) > 1:
                    mod = posixpath.normpath(":".join(segs[:-1]))
                    ext = "" if mod.rsplit("/", 1)[-1].count(".") else ".js"
                    synth.append(f"{mod}{ext}::program:{x}")
                    break
        if synth:
            out[id(td)] = sorted(set(synth))
    return out


def expected_inherits() -> list[tuple[str, str]]:
    """(type_decl_full_name, parent_type_full_name); JS parents resolved by
    the XInheritanceFullNamePass mirror (corpus-wide name lookup)."""
    all_rows: list[dict] = []
    for repo, path, commit, lang, rows in local_files():
        all_rows += rows
    res = js_resolve_inherits(all_rows)
    out = set()
    for r in all_rows:
        if r["kind"] == M.TYPE_DECL and r["inherits_from"]:
            for p in res.get(id(r), r["inherits_from"]):
                out.add((r["full_name"], p))
    return sorted(out)


def _sig_arity_of(sig: str) -> int:
    inner = sig[sig.find("(") + 1:sig.rfind(")")] if "(" in sig else ""
    return 0 if not inner else inner.count(",") + 1


@lru_cache(maxsize=1)
def _binding_table_seq() -> dict[str, dict[tuple[str, str], str]]:
    """td_full_name -> {(name, sig): target_fn} — sequential mirror of
    operators.bindings.binding_relation (same priority order: own decl <
    parse-time erasure row < inherited, ties broken on target_fn)."""
    own_m: dict[str, list] = {}
    ext_b: dict[str, list] = {}
    sup: dict[str, list] = {}
    tds: set[str] = set()
    for repo, path, commit, lang, rows in local_files():
        for r in rows:
            if (r["kind"] == M.METHOD and r["ast_parent_type"] == M.TYPE_DECL
                    and r["ast_parent_full_name"]):
                own_m.setdefault(r["ast_parent_full_name"], []).append(
                    (r["name"], r["signature"], r["full_name"]))
            elif r["kind"] == M.BINDING:
                ext_b.setdefault(r["ast_parent_full_name"], []).append(
                    (r["name"], r["signature"], r["method_full_name"]))
            elif r["kind"] == M.TYPE_DECL:
                tds.add(r["full_name"])
                if r.get("inherits_from"):
                    sup.setdefault(r["full_name"], []).extend(r["inherits_from"])

    def ancestors(fn, seen=None):
        seen = set() if seen is None else seen
        for s in sup.get(fn, []):
            if s not in seen:
                seen.add(s)
                ancestors(s, seen)
        return seen

    table: dict[str, dict[tuple[str, str], str]] = {}
    for fn in tds | set(own_m) | set(ext_b):
        entries: dict[tuple[str, str], tuple[int, str]] = {}

        def offer(k, v):
            if k not in entries or v < entries[k]:
                entries[k] = v

        for prio, lst in ((0, own_m.get(fn, [])), (1, ext_b.get(fn, []))):
            for n, s, t in lst:
                offer((n, s), (prio, t))
        ovr: dict[tuple[str, int], str] = {}
        for n, s, t in own_m.get(fn, []):
            k = (n, _sig_arity_of(s))
            if k not in ovr or t < ovr[k]:
                ovr[k] = t
        for anc in sorted(ancestors(fn)):
            for n, s, t in own_m.get(anc, []) + ext_b.get(anc, []):
                if n == M.CONSTRUCTOR:
                    continue
                offer((n, s), (2, ovr.get((n, _sig_arity_of(s)), t)))
        table[fn] = {k: t for k, (_, t) in entries.items()}
    return table


def expected_bindings() -> list[tuple[str, str, str, str]]:
    """(td_full_name, bname, bsig, target_fn) — the BINDING vtable
    (BindingTableAdapterImpls.scala) re-derived sequentially, unioned the
    way the pipeline materializes nodes: a parse-time BINDING row keeps its
    own target verbatim (the pipeline anti-joins fresh rows on their keys);
    only keys it does not cover come from the derived relation."""
    ext_b: dict[str, list] = {}
    for repo, path, commit, lang, rows in local_files():
        for r in rows:
            if r["kind"] == M.BINDING:
                ext_b.setdefault(r["ast_parent_full_name"], []).append(
                    (r["name"], r["signature"], r["method_full_name"]))
    out = set()
    for fn, entries in _binding_table_seq().items():
        parse_keys = set()
        for n, s, t in ext_b.get(fn, []):
            out.add((fn, n, s, t))
            parse_keys.add((n, s))
        for (n, s), t in entries.items():
            if (n, s) not in parse_keys:
                out.add((fn, n, s, t))
    return sorted(out)


def expected_usage_slices() -> list[tuple[str, str, str, str, str, str]]:
    """(method_full_name, var_name, var_kind, relation, call_name, detail)
    — sequential mirror of operators.slicing.usage_slices (UsageSlicing.scala
    v0: definedBy / invokedCall / argToCall per LOCAL/PARAM declaration)."""
    out = set()
    for repo, path, commit, lang, rows in local_files():
        by_idx = {r["node_idx"]: r for r in rows}
        kids: dict[int, list[dict]] = {}
        for r in rows:
            kids.setdefault(r["parent_idx"], []).append(r)

        def method_fn(r):
            m = by_idx.get(r["method_idx"] if r["method_idx"] is not None
                           and r["method_idx"] >= 0 else r["parent_idx"])
            return m["full_name"] if m is not None and m["kind"] == M.METHOD \
                else None

        decls = {}
        for r in rows:
            if r["kind"] in (M.LOCAL, M.METHOD_PARAMETER_IN) and \
                    not r["name"].startswith("_tmp_") and \
                    r["name"] not in ("this", "self"):
                fn = method_fn(r)
                if fn is not None:
                    decls[r["node_idx"]] = (fn, r["name"], r["kind"])
                    if r["kind"] == M.METHOD_PARAMETER_IN:
                        out.add((fn, r["name"], r["kind"], "definedBy", "",
                                 r["name"]))
        for r in rows:
            if r["kind"] != M.IDENTIFIER or r.get("ref_idx", -1) < 0 \
                    or r["ref_idx"] not in decls:
                continue
            fn, vname, vkind = decls[r["ref_idx"]]
            call = by_idx.get(r["parent_idx"])
            if call is None or call["kind"] != M.CALL:
                continue
            cname = call["name"]
            if r["arg_index"] == 0 and call["dispatch_type"] == M.DYNAMIC_DISPATCH \
                    and not cname.startswith(M.OP):
                out.add((fn, vname, vkind, "invokedCall", cname, call["code"]))
            if r["arg_index"] >= 1 and not cname.startswith(M.OP):
                out.add((fn, vname, vkind, "argToCall", cname,
                         f"arg{r['arg_index']}"))
            if cname == M.OP_ASSIGNMENT and r["arg_index"] == 1:
                for rh in kids.get(call["node_idx"], []):
                    if rh["arg_index"] == 2 and \
                            rh["name"] not in ("require", "import"):
                        out.add((fn, vname, vkind, "definedBy", rh["name"],
                                 rh["code"]))
    return sorted(out)


def expected_dataflow_slices() -> list[tuple[str, str, str, str, str]]:
    """(method_full_name, node_kind, name, code, type_full_name) — sequential
    mirror of operators.slicing.dataflow_slices (DataFlowSlicing.scala:20-59:
    call arguments seed a depth-20 backward REACHING_DEF walk; merged slice;
    cfgNodeToSliceNode name special-casing)."""
    from collections import defaultdict, deque
    out = set()
    rdef_code = M.IE_CODE[M.REACHING_DEF]
    for repo, path, commit, lang, rows in local_files():
        by_idx = {r["node_idx"]: r for r in rows}
        back = defaultdict(list)  # dst -> [src]
        for r in rows:
            if r["kind"] == M.METHOD and r["ie_src"]:
                for s_i, d_i, lbl in zip(r["ie_src"], r["ie_dst"],
                                         r["ie_label"]):
                    if lbl == rdef_code:
                        back[d_i].append(s_i)
        seeds = {r["node_idx"] for r in rows
                 if r["arg_index"] is not None and r["arg_index"] >= 0
                 and by_idx.get(r["parent_idx"], {}).get("kind") == M.CALL}
        visited = set(seeds)
        q = deque((s, 0) for s in seeds)
        while q:
            n, d = q.popleft()
            if d >= 20:
                continue
            for s in back.get(n, ()):
                if s not in visited:
                    visited.add(s)
                    q.append((s, d + 1))
        for idx in visited:
            r = by_idx[idx]
            m = r if r["kind"] == M.METHOD else (
                by_idx.get(r["method_idx"]) if r["method_idx"] is not None
                and r["method_idx"] >= 0 else None)
            if m is None or m["kind"] != M.METHOD:
                continue
            name = {M.RETURN: "RET"}.get(r["kind"], r["name"])
            if r["kind"] == M.METHOD_REF:
                name = r["method_full_name"]
            elif r["kind"] == M.TYPE_REF:
                name = r["type_full_name"]
            out.add((m["full_name"], r["kind"], name, r["code"],
                     r["type_full_name"] or ""))
    return sorted(out)


def expected_api_vectors() -> list[tuple[str, str, int, int, int]]:
    """(path, method_full_name, n_features, total_count, dim_weighted_sum)
    — sequential mirror of operators.vectors.api_vector_summaries
    (JoernVectors.scala BagOfAPISymbolsForMethods: per internal method the
    bag of AST-node codes, nearest-enclosing-method containment; dim =
    crc32(code), bit-identical between Spark's F.crc32 and zlib.crc32).
    Keyed per (path, full_name) method instance — same-fullname methods in
    one file merge bags, mirroring the distributed groupBy."""
    import zlib
    from collections import Counter
    merged: dict[tuple[str, str], Counter] = {}
    for repo, path, commit, lang, rows in local_files():
        bags: dict[int, Counter] = {}
        names: dict[int, str] = {}
        for r in rows:
            if r["kind"] == M.METHOD:
                bags.setdefault(r["node_idx"], Counter())[r["code"]] += 1
                names[r["node_idx"]] = r["full_name"]
        for r in rows:
            mi = r["method_idx"]
            if mi is not None and mi >= 0 and mi in bags:
                bags[mi][r["code"]] += 1
                # MethodDecoratorPass clones every PARAM_IN as a PARAM_OUT
                # AST child (operators/base.py parameter_out_nodes), and
                # method.ast includes it — count the code twice
                if r["kind"] == M.METHOD_PARAMETER_IN:
                    bags[mi][r["code"]] += 1
        for idx, bag in bags.items():
            key = (path, names[idx])
            merged.setdefault(key, Counter()).update(bag)
    return sorted(
        (path, name, len(bag), sum(bag.values()),
         sum(zlib.crc32(code.encode("utf-8")) * c
             for code, c in bag.items()))
        for (path, name), bag in merged.items())


def expected_declares() -> list[tuple[str, str]]:
    """(type_decl_full_name, declared METHOD/MEMBER name) from ast-parent
    linking — the DECLARES relation."""
    out = set()
    for repo, path, commit, lang, rows in local_files():
        decls = {r["full_name"] for r in rows if r["kind"] == M.TYPE_DECL}
        for r in rows:
            if r["kind"] in (M.METHOD, M.MEMBER) \
                    and r["ast_parent_type"] == M.TYPE_DECL \
                    and r["ast_parent_full_name"] in decls:
                out.add((r["ast_parent_full_name"], r["name"]))
    return sorted(out)


def expected_operator_counts() -> list[tuple[str, int]]:
    """(operator_name, count) of <operator>.* lowered calls, whole corpus."""
    counts: dict[str, int] = {}
    for repo, path, commit, lang, rows in local_files():
        for r in rows:
            if r["kind"] == M.CALL and r["name"].startswith("<operator>."):
                counts[r["name"]] = counts.get(r["name"], 0) + 1
    return sorted(counts.items())


def expected_sha_lineage() -> list[tuple[str, str]]:
    """(path, sha256(content)) — the per-row invariant."""
    import hashlib
    return sorted(
        (path, hashlib.sha256(content.encode()).hexdigest())
        for repo, path, commit, lang, content in fixture_rows()
    )


def expected_method_stubs() -> list[tuple[str, str]]:
    """(lang, method_full_name) of called-but-undefined names → the
    MethodStubCreator anti-join re-derived with sets."""
    defined: dict[str, set] = {}
    for lang, path, m, rows in _methods():
        defined.setdefault(lang, set()).add(m["full_name"])
    out = set()
    for repo, path, commit, lang, rows in local_files():
        rec = _js_recovered(rows) if lang == "javascript" else {}
        for r in rows:
            mfn = _call_mfn(r, rec)
            if r["kind"] == M.CALL and mfn and mfn != M.UNKNOWN_FULL_NAME \
                    and mfn not in defined.get(lang, set()):
                out.add((lang, mfn))
    return sorted(out)


def expected_field_refs() -> list[tuple[str, str]]:
    """(call_code, member_name) for fieldAccess CALL → MEMBER REF links
    (FieldAccessLinkerPass re-derived): base-arg type (pointer decoration
    stripped) + field name must match a MEMBER of that TYPE_DECL anywhere in
    the corpus."""
    import re
    members = set()
    for repo, path, commit, lang, rows in local_files():
        by_idx = {r["node_idx"]: r for r in rows}
        for r in rows:
            if r["kind"] == M.MEMBER:
                p = by_idx.get(r["parent_idx"])
                if p is not None and p["kind"] == M.TYPE_DECL:
                    members.add((p["full_name"], r["name"]))
    out = set()
    for repo, path, commit, lang, rows in local_files():
        calls = {r["node_idx"]: r for r in rows
                 if r["kind"] == M.CALL
                 and r["name"] in (M.OP_FIELD_ACCESS, M.OP_INDIRECT_FIELD_ACCESS)}
        base: dict[int, str] = {}
        fld: dict[int, str] = {}
        for r in rows:
            if r["parent_idx"] in calls and r["arg_index"] == 1:
                base[r["parent_idx"]] = re.sub(r"[*\s&]+$", "", r["type_full_name"])
            if r["parent_idx"] in calls and r["arg_index"] == 2 \
                    and r["kind"] == M.FIELD_IDENTIFIER:
                fld[r["parent_idx"]] = r["canonical_name"]
        for ci, c in calls.items():
            if ci in base and ci in fld and (base[ci], fld[ci]) in members:
                out.add((c["code"], fld[ci]))
    return sorted(out)


def expected_partition_metrics() -> list[tuple[str, str, int, int, int, int]]:
    """(repo, lang, n_files, n_nodes, n_methods, n_calls) over parsed rows."""
    agg: dict[tuple[str, str], list[int]] = {}
    for repo, path, commit, lang, rows in local_files():
        a = agg.setdefault((repo, lang), [0, 0, 0, 0])
        a[0] += 1
        a[1] += len(rows)
        a[2] += sum(1 for r in rows if r["kind"] == M.METHOD)
        a[3] += sum(1 for r in rows if r["kind"] == M.CALL)
    return sorted((repo, lang, *v) for (repo, lang), v in agg.items())


def expected_canonical_aliases() -> list[tuple[str, str]]:
    """(alias_full_name, canon_full_name) — the entity-linking stage
    re-derived sequentially: unresolved stubs candidate-paired to compatible
    internal definitions by (name, arity), components collapsed with
    union-find, canonical = lexicographically-first internal fullname."""
    import re

    internals: dict[str, tuple[str, str]] = {}
    for lang, path, m, rows in _methods():
        internals.setdefault(m["full_name"], (m["name"], m["signature"]))
    stub_names: dict[str, str] = {}
    for repo, path, commit, lang, rows in local_files():
        rec = _js_recovered(rows) if lang == "javascript" else {}
        for r in rows:
            fn = _call_mfn(r, rec)
            if r["kind"] == M.CALL and fn and fn != M.UNKNOWN_FULL_NAME \
                    and fn not in internals:
                stub_names.setdefault(fn, r["name"])

    def stub_arity(fn):
        m_ = re.search(r"<unresolvedSignature>\((\d+)\)", fn)
        return int(m_.group(1)) if m_ else None

    def sig_arity(sig):
        m_ = re.search(r"\((.*)\)", sig)
        if not m_:
            return None
        inner = m_.group(1)
        return 0 if inner == "" else len(inner.split(","))

    name_freq: dict[str, int] = {}
    for fn, (name, _sig) in internals.items():
        name_freq[name] = name_freq.get(name, 0) + 1

    parent: dict[str, str] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra

    for sfn, sname in stub_names.items():
        if not sname or sname.startswith("<operator>"):
            continue
        if not (M.UNRESOLVED_NAMESPACE in sfn or M.UNRESOLVED_SIGNATURE in sfn
                or sfn == sname):
            continue
        sa = stub_arity(sfn)
        for ifn, (iname, isig) in internals.items():
            if iname != sname or name_freq[iname] > 100:
                continue
            if sa is not None and isig != "" and sig_arity(isig) != sa:
                continue
            union(sfn, ifn)

    comps: dict[str, list[str]] = {}
    for node in list(parent):
        comps.setdefault(find(node), []).append(node)
    out = set()
    for members in comps.values():
        if len(members) < 2:
            continue
        internal_fns = sorted(m_ for m_ in members if m_ in internals)
        canon = internal_fns[0] if internal_fns else sorted(members)[0]
        for m_ in members:
            # only external stubs are re-pointed; internal definitions bridged
            # into a component by a shared stub keep their identity (mirrors
            # canonical_symbol_map's is_external restriction)
            if m_ != canon and m_ not in internals:
                out.add((m_, canon))
    return sorted(out)


# --------------------------------------------------------------------------- #
# VALUES SQL rendering
def expected_dependencies() -> list[tuple[str, str]]:
    """DependenciesPass over the config fixtures, sequentially: lock file
    wins per directory when non-empty, else the package.json's four groups
    (PackageJsonParser.scala:41-93)."""
    import json
    from joern_spark.corpus import CONFIG_FIXTURES
    groups = ("dependencies", "devDependencies", "peerDependencies",
              "optionalDependencies")
    by_dir: dict[str, dict[str, dict]] = {}
    for path, content in CONFIG_FIXTURES:
        if "node_modules" in path:
            continue
        d, _, base = path.rpartition("/")
        if base in ("package.json", "package-lock.json"):
            by_dir.setdefault(d, {})[base] = content
    out = set()
    for d, files in by_dir.items():
        lock_deps = {}
        if "package-lock.json" in files:
            try:
                j = json.loads(files["package-lock.json"])
                for name, v in (j.get("dependencies") or {}).items():
                    if isinstance(v, str):
                        lock_deps[name] = v
                    elif isinstance(v, dict) and "version" in v:
                        lock_deps[name] = v["version"]
            except ValueError:
                pass
        if lock_deps:
            out |= {(n, v) for n, v in lock_deps.items()}
            continue
        if "package.json" in files:
            try:
                j = json.loads(files["package.json"])
                for g in groups:
                    out |= {(n, v) for n, v in (j.get(g) or {}).items()
                            if isinstance(v, str)}
            except ValueError:
                pass
    return sorted(out)


def expected_config_files() -> list[tuple[str, str]]:
    """ConfigPass + PrivateKeyFilePass over the config fixtures."""
    import re
    from joern_spark.corpus import CONFIG_FIXTURES
    exts = (".json", ".config.js", ".conf.js", ".vue", ".html", ".pug")
    out = []
    for path, content in CONFIG_FIXTURES:
        if "node_modules" in path:
            continue
        if path.endswith(exts):
            out.append((path, content))
        elif path.endswith(".key") and re.search(r"RSA\sPRIVATE\sKEY",
                                                 content):
            out.append((path, "Content omitted for security reasons."))
    return sorted(out)


# --------------------------------------------------------------------------- #

def _sql_lit(v) -> str:
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return f"CAST({v} AS BIGINT)"
    if isinstance(v, float):
        return repr(v)
    s = str(v).replace("'", "''")
    return f"'{s}'"


def values_sql(rows: list[tuple], cols: list[str]) -> str:
    """Render expected rows as a DuckDB VALUES relation."""
    if not rows:
        sel = ", ".join(f"NULL AS {c}" for c in cols)
        return f"SELECT {sel} WHERE 1 = 0"
    body = ",\n  ".join("(" + ", ".join(_sql_lit(v) for v in r) + ")" for r in rows)
    return f"SELECT * FROM (VALUES\n  {body}\n) AS t({', '.join(cols)})"


def expected_usage_slice_types() -> list[tuple[str, str, str, str, str,
                                               str, str, int]]:
    """(method_full_name, var_name, relation, call_name, param_types,
    return_type, resolved_method, position) — sequential mirror of
    operators.slicing.usage_slice_types (ObservedCall fields,
    JsUsageSliceTests goldens)."""
    out = set()
    for repo, path, commit, lang, rows in local_files():
        by_idx = {r["node_idx"]: r for r in rows}
        decls = {}
        for r in rows:
            if r["kind"] in (M.LOCAL, M.METHOD_PARAMETER_IN) and \
                    not r["name"].startswith("_tmp_") and \
                    r["name"] not in ("this", "self"):
                m = by_idx.get(r["method_idx"]
                               if r["method_idx"] is not None
                               and r["method_idx"] >= 0 else r["parent_idx"])
                if m is not None and m["kind"] == M.METHOD \
                        and not m.get("is_external"):
                    decls[r["node_idx"]] = (m["full_name"], r["name"])

        decl_ty = {r["node_idx"]: r["type_full_name"] for r in rows
                   if r["kind"] in (M.LOCAL, M.METHOD_PARAMETER_IN)}

        def _arg_ty(a):
            if a["kind"] == M.METHOD_REF:
                return "LAMBDA"
            t = a["type_full_name"]
            if t and t != M.ANY:
                return t
            rt = decl_ty.get(a.get("ref_idx", -1))
            if rt and rt != M.ANY:
                return rt
            return M.ANY

        call_args: dict[int, list] = {}
        for r in rows:
            if (r.get("arg_index") or 0) >= 1 and r["parent_idx"] is not None:
                call_args.setdefault(r["parent_idx"], []).append(r)
        for r in rows:
            if r["kind"] != M.IDENTIFIER or r.get("ref_idx", -1) < 0 \
                    or r["ref_idx"] not in decls:
                continue
            fn, vname = decls[r["ref_idx"]]
            call = by_idx.get(r["parent_idx"])
            if call is None or call["kind"] != M.CALL:
                continue
            cname = call["name"]
            if cname.startswith(M.OP):
                continue
            ptypes = ",".join(
                _arg_ty(a) for a in sorted(call_args.get(call["node_idx"],
                                                         []),
                                           key=lambda a: a["arg_index"]))
            rtype = call["type_full_name"] or M.ANY
            rmeth = call["method_full_name"] or ""
            if r["arg_index"] == 0 \
                    and call["dispatch_type"] == M.DYNAMIC_DISPATCH:
                out.add((fn, vname, "invokedCall", cname, ptypes, rtype,
                         rmeth, -1))
            if r["arg_index"] >= 1 and cname != M.OP_ASSIGNMENT:
                out.add((fn, vname, "argToCall", cname, ptypes, rtype,
                         rmeth, r["arg_index"]))
    return sorted(out)


def expected_udts() -> list[tuple[str, str, str, str]]:
    """(udt_full_name, procedure_name, procedure_full_name, return_type)
    — sequential mirror of operators.slicing.user_defined_types."""
    out = set()
    for repo, path, commit, lang, rows in local_files():
        tds = {r["full_name"] for r in rows
               if r["kind"] == M.TYPE_DECL and not r.get("is_external")}
        rets = {}
        for r in rows:
            if r["kind"] == M.METHOD_RETURN:
                rets[r["method_idx"] if r["method_idx"] is not None
                     and r["method_idx"] >= 0 else r["parent_idx"]] = \
                    r["type_full_name"] or M.ANY
        for r in rows:
            if r["kind"] == M.METHOD \
                    and r["ast_parent_type"] == M.TYPE_DECL \
                    and r["ast_parent_full_name"] in tds:
                out.add((r["ast_parent_full_name"], r["name"],
                         r["full_name"],
                         rets.get(r["node_idx"], M.ANY)))
    return sorted(out)
