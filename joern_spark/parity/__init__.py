"""Triple-parity scorer vs the reference's own golden test expectations.

The north rule requires P/R >= 0.95 on (subj, pred, obj) triples vs the
reference frontends' emitted facts over their testcode fixtures. The corpus
in ``corpus_c.py`` / ``corpus_js.py`` / ``corpus_java.py`` is transcribed BY
HAND from the reference's golden test suites (every case carries a
``cite`` into /root/reference) — it is independent of this repo's parsers,
so scoring against it measures semantic parity with Joern, not
self-consistency.

Scoring model (mirrors how the reference tests assert):

* Facts are rows ``(lang, case, relation, subj, obj)``. For the ``cfg``
  relation a subject is one CFG node, addressed exactly like the reference
  succOf oracle (CfgTestFixture.scala:44-57): by display code (METHOD nodes
  by name), with an occurrence index over same-code CFG nodes in AST
  (preorder) order, optionally narrowed by node kind. Its objects are the
  display codes of its CFG successors.
* Reference tests assert complete successor sets for the subjects they
  mention and say nothing about other subjects. Scoring therefore scopes
  produced facts to the asserted subjects: TP = produced & expected,
  FP = produced - expected (same subject), FN = expected - produced.
* Relations whose reference assertion is a "contains" (not an exact set)
  are marked PARTIAL — their FP term is not counted.

One extractor produces the fact rows: ``case_facts`` over one case's parse
rows. Two data paths feed it. ``python_case_facts`` parses the case in
process (pytest, the transcription tools and the DuckDB oracle use it);
``joern_spark.parity.spark_facts`` builds the whole corpus the way
production does and runs ``case_facts`` and ``score_case`` on each case's
rows read back from the graph tables. The driver's Spark-vs-DuckDB
comparison therefore checks the distributed build against in-process
parsing.
"""

from __future__ import annotations

from collections import defaultdict

from joern_spark import model as M

# relations whose transcribed expectation is a subset ("should contain"),
# not an exact set ("shouldBe") — no FP counted for these
PARTIAL_RELATIONS = {"cdg"}

# node kinds that participate in the CFG (mirror of the reference's
# .isCfgNode universe as used by succOf; identical to tests/succof.py)
NON_CFG_KINDS = (
    M.LOCAL, M.MODIFIER, M.TYPE_DECL, M.MEMBER, M.JUMP_LABEL,
    M.METHOD_PARAMETER_IN, M.METHOD_PARAMETER_OUT, M.NAMESPACE_BLOCK,
    M.FILE, M.META_DATA, M.TYPE, M.NAMESPACE, M.BINDING,
    M.ANNOTATION, M.ANNOTATION_PARAMETER_ASSIGN, M.ANNOTATION_PARAMETER,
    M.ANNOTATION_LITERAL,
)

_EXT = {"c": "c", "cpp": "cpp", "java": "java", "javascript": "js"}


def corpus() -> list[dict]:
    from joern_spark.parity import (corpus_c, corpus_c2,
                                    corpus_c_flows, corpus_java,
                                    corpus_java_flows, corpus_java_gensig,
                                    corpus_java_localcls, corpus_java_ops,
                                    corpus_java_generics, corpus_java_types,
                                    corpus_java_records,
                                    corpus_java_localcls2,
                                    corpus_java_patterns,
                                    corpus_js, corpus_js2, corpus_js_flows)
    return (corpus_c.CASES + corpus_c2.CASES
            + corpus_c_flows.CASES + corpus_js.CASES + corpus_js2.CASES
            + corpus_js_flows.CASES
            + corpus_java.CASES + corpus_java_flows.CASES
            + corpus_java_patterns.CASES + corpus_java_gensig.CASES
            + corpus_java_localcls.CASES + corpus_java_ops.CASES
            + corpus_java_generics.CASES + corpus_java_types.CASES
            + corpus_java_records.CASES + corpus_java_localcls2.CASES)


def case_path(case: dict) -> str:
    return f"{case['name']}.{_EXT[case['lang']]}"


def case_content(case: dict) -> str:
    """Wrap C-style snippet bodies exactly like the reference harness
    (`RET func() { <body> }`, CfgCreationPassTests.scala:13-15)."""
    if case.get("wrap"):
        return "RET func() { " + case["code"] + " }"
    return case["code"]


def subj_key(code: str, idx: int = 0, kind: str | None = None) -> str:
    return f"{code}@{idx}" + (f"#{kind}" if kind else "")


def _norm_key(key) -> str:
    """Transcribed expectation key -> canonical subject string."""
    if isinstance(key, tuple):
        if len(key) == 2:
            return subj_key(key[0], key[1])
        return subj_key(key[0], key[1], key[2])
    return subj_key(key, 0)


def want_facts(case: dict) -> list[tuple[str, str, str]]:
    """Transcribed expectations -> (relation, subj, obj) rows."""
    out: list[tuple[str, str, str]] = []
    for rel in ("cfg", "cdg", "domby", "dom", "ast", "refs", "roledge"):
        for key, objs in (case.get(rel) or {}).items():
            subj = _norm_key(key)
            if not objs:
                out.append((rel, subj, ""))  # empty-set assertion marker
            for o in objs:
                out.append((rel, subj, o))
    for rel in ("calls", "inherits", "declares", "methods", "captures",
                "cs", "cscond", "params", "locals", "members", "membercode",
                "bindings", "callmfn", "typerec", "imports", "annot",
                "annotkids", "tdalias", "nsblock", "msig", "paramcode",
                "gensig", "tdowner", "tdcode"):
        for s, o in (case.get(rel) or []):
            out.append((rel, s, o))
    # node typeFullName assertions keyed like cfg subjects (code@idx[#KIND])
    # — cpg.identifier/literal/call .typeFullName golden values
    for key, ty in (case.get("nodetype") or {}).items():
        out.append(("nodetype", _norm_key(key), ty))
    # METHOD_REF methodFullName assertions (MethodRefTests)
    for key, mfn in (case.get("nodemfn") or {}).items():
        out.append(("nodemfn", _norm_key(key), mfn))
    # size-only golden assertions over transitive dominator/CDG closures —
    # exact-count facts, so a single extra or missing edge scores FP+FN
    for key, n in (case.get("postdom_count") or {}).items():
        out.append(("postdom_count", _norm_key(key), str(n)))
    # exact METHOD-node count per fullname (forward-decl dedup assertions,
    # MethodTests.scala MethodTest9 / template-function tests)
    for s, n in (case.get("mcount") or []):
        out.append(("mcount", s, str(n)))
    for key, callee, n in (case.get("controls_count") or []):
        out.append(("controls_count", f"{_norm_key(key)}->{callee}", str(n)))
    for f in (case.get("flows") or []):
        from joern_spark.parity.flows import serialize
        if "reachable" in f:
            out.append(("flows", f["name"], f"reachable={f['reachable']}"))
        elif "reachable_pairs" in f:
            out.append(("flows", f["name"],
                        f"pairs={f['reachable_pairs']}"))
        elif "count" in f:
            out.append(("flows", f["name"], f"count={f['count']}"))
        elif "result_count" in f:
            out.append(("flows", f["name"], f"results={f['result_count']}"))
        elif "nonempty" in f:
            out.append(("flows", f["name"],
                        f"nonempty={str(bool(f['nonempty'])).lower()}"))
        elif not f["want"]:
            out.append(("flows", f["name"], ""))  # empty-set assertion
        else:
            for pairs in f["want"]:
                out.append(("flows", f["name"], serialize(pairs)))
    # dedupe, order-preserving: a transcription may legitimately list the
    # same (rel, subj, obj) twice (e.g. both if-branches display <empty>)
    return list(dict.fromkeys(out))


# --------------------------------------------------------------------------- #
# Fact extraction (one case).
# --------------------------------------------------------------------------- #

def case_sources(case: dict) -> list[tuple[str, str]]:
    """(path, content) pairs — multi-file fixtures (the reference's
    `moreCode`) declare `files=[(relname, content), ...]`; single-file
    cases keep the name-derived path."""
    files = case.get("files")
    if not files:
        return [(case_path(case), case_content(case))]
    base = case["name"]
    return [(f"{base}/{rel}", content) for rel, content in files]


def case_rows(files: list[list[dict]]) -> list[dict]:
    """One case's parse rows from its files' rows, given in ``case_sources``
    order. Each file's rows are sorted by ``node_idx``; a file's
    ``node_idx``/``parent_idx``/``method_idx``/``ref_idx`` and its METHOD
    rows' ``ie_src``/``ie_dst`` shift past the files before it, so the
    occurrence-indexed subject keys count across the whole case."""
    out: list[dict] = []
    base = 0
    for rows in files:
        rows = sorted(rows, key=lambda r: r["node_idx"])
        if base:
            for r in rows:
                r["node_idx"] += base
                for k in ("parent_idx", "method_idx", "ref_idx"):
                    if r.get(k) is not None and r[k] >= 0:
                        r[k] += base
                for k in ("ie_src", "ie_dst"):
                    if r.get(k) is not None:
                        r[k] = [i + base for i in r[k]]
        if rows:
            base = max(r["node_idx"] for r in rows) + 1
        out += rows
    return out


def _parse_rows(case: dict) -> list[dict]:
    """The case parsed in process the way the parse stage parses a file:
    one repo per case, fused intraprocedural edges on the METHOD rows."""
    from joern_spark.operators.parse import _parse_one
    return case_rows([
        [r for r in _parse_one(case["name"], path, "f" * 40, case["lang"],
                               content, "", True) if not r["parse_error"]]
        for path, content in case_sources(case)])


def display_code(r: dict) -> str:
    """Reference-style display code; empty codes (e.g. synthetic BLOCKs) map
    to the reference's `<empty>` sentinel (Defines.scala) so they cannot
    collide with the want-table's empty-set marker."""
    if r["kind"] == M.METHOD:
        return r["name"]
    return r["code"] or "<empty>"


def _subject_keys(rows: list[dict]) -> dict[int, list[str]]:
    """node_idx -> all subject-key spellings (plain + kind-qualified),
    occurrence-indexed over CFG-participating nodes in preorder."""
    plain: dict[str, int] = defaultdict(int)
    bykind: dict[tuple[str, str], int] = defaultdict(int)
    keys: dict[int, list[str]] = {}
    for r in sorted(rows, key=lambda r: r["node_idx"]):
        if r["kind"] in NON_CFG_KINDS:
            continue
        code = display_code(r)
        i = plain[code]
        plain[code] += 1
        j = bykind[(code, r["kind"])]
        bykind[(code, r["kind"])] += 1
        keys[r["node_idx"]] = [subj_key(code, i), subj_key(code, j, r["kind"])]
    return keys


def python_case_facts(case: dict) -> set[tuple[str, str, str]]:
    """``case_facts`` over the case parsed in process, with the sequential
    resolver mirrors."""
    from joern_spark.oracle import _js_recover, js_resolve_inherits
    return case_facts(case, _parse_rows(case), _js_recover,
                      js_resolve_inherits)


def case_facts(case: dict, rows: list[dict], recover_js, resolve_js_parents
               ) -> set[tuple[str, str, str]]:
    """(relation, subj, obj) facts of one case's parse rows (``case_rows``).

    The two resolver-backed relations take their resolver as an argument:
    ``recover_js(rows)`` -> (node_idx -> recovered call methodFullName,
    var -> type hints) for ``typerec``, and ``resolve_js_parents(rows)`` ->
    (``id(row)`` -> resolved parents) for JavaScript ``inherits``."""
    by_idx = {r["node_idx"]: r for r in rows}
    keys = _subject_keys(rows)
    # CFG and dominator-tree edges: the METHOD rows' fused edge arrays
    edges: dict[str, list[tuple[int, int]]] = defaultdict(list)
    for r in rows:
        if r["kind"] == M.METHOD and r.get("ie_src") is not None:
            for s, d, lbl in zip(r["ie_src"], r["ie_dst"], r["ie_label"]):
                edges[M.IE_LABELS[lbl]].append((s, d))
    cfg, dom, pdom, cdg = (edges[lbl] for lbl in (
        M.CFG, M.DOMINATE, M.POST_DOMINATE, M.CDG))
    out: set[tuple[str, str, str]] = set()

    def emit(rel, src_idx, obj):
        for k in keys.get(src_idx, []):
            out.add((rel, k, obj))

    if case.get("cfg") is not None:
        for s, d in cfg:
            emit("cfg", s, display_code(by_idx[d]))

    if case.get("cdg") is not None:
        # transitive controlledBy, restricted to CALL controllers —
        # matches cpg.call.controlledBy.isCall (CfgTests.scala:22-26)
        ctrl: dict[int, set[int]] = defaultdict(set)
        for e in cdg:
            ctrl[e[1]].add(e[0])
        closed: dict[int, set[int]] = {}

        def controllers(n, seen=None):
            if n in closed:
                return closed[n]
            seen = seen or set()
            acc: set[int] = set()
            for c in ctrl.get(n, ()):
                if c in seen:
                    continue
                seen.add(c)
                acc.add(c)
                acc |= controllers(c, seen)
            closed[n] = acc
            return acc

        for d in list(ctrl):
            for c in controllers(d):
                if by_idx[c]["kind"] == M.CALL:
                    emit("cdg", d, display_code(by_idx[c]))

    if case.get("domby") is not None or case.get("dom") is not None:
        idom: dict[int, int] = {}
        for e in dom:
            idom[e[1]] = e[0]
        if case.get("domby") is not None:
            # proper dominators filtered to CALL nodes —
            # cpg.call.dominatedBy.isCall (CfgTests.scala:36-38)
            for n in idom:
                w = idom.get(n)
                seen = set()
                while w is not None and w not in seen:
                    seen.add(w)
                    if by_idx[w]["kind"] == M.CALL:
                        emit("domby", n, display_code(by_idx[w]))
                    w = idom.get(w)
        if case.get("dom") is not None:
            # strict dominates — cpg.call.dominates (CfgTests.scala:32-34)
            for n in idom:
                w = idom.get(n)
                seen = set()
                while w is not None and w not in seen:
                    seen.add(w)
                    emit("dom", w, display_code(by_idx[n]))
                    w = idom.get(w)

    if case.get("postdom_count") is not None:
        # |postDominates(n)| — transitive closure over the ipdom tree
        # (cpg.call(X).postDominates.size, CfgQueryTests.scala:38-44)
        pkids: dict[int, list[int]] = defaultdict(list)
        for s, d in pdom:
            pkids[s].append(d)

        def pdesc(n: int) -> int:
            stack, seen = [n], set()
            while stack:
                x = stack.pop()
                for c in pkids.get(x, ()):
                    if c not in seen:
                        seen.add(c)
                        stack.append(c)
            return len(seen)

        for n in keys:
            emit("postdom_count", n, str(pdesc(n)))

    if case.get("controls_count") is not None:
        # |controls(cond) ∩ call.name(X)| (CfgQueryTests.scala:27-29)
        ckids: dict[int, list[int]] = defaultdict(list)
        for s, d in cdg:
            ckids[s].append(d)
        for n in keys:
            stack, seen = [n], set()
            while stack:
                x = stack.pop()
                for c in ckids.get(x, ()):
                    if c not in seen:
                        seen.add(c)
                        stack.append(c)
            per_name: dict[str, int] = defaultdict(int)
            for c in seen:
                r = by_idx[c]
                if r["kind"] == M.CALL and not r["name"].startswith("<operator>"):
                    per_name[r["name"]] += 1
            for callee, cnt in per_name.items():
                for k in keys.get(n, []):
                    out.add(("controls_count", f"{k}->{callee}", str(cnt)))

    if case.get("calls") is not None:
        methods = {r["node_idx"]: r for r in rows if r["kind"] == M.METHOD}
        for r in rows:
            if r["kind"] == M.CALL and not r["name"].startswith("<operator>"):
                m = methods.get(r["method_idx"])
                if m is not None:
                    out.add(("calls", m["name"], r["name"]))

    if case.get("inherits") is not None:
        # JS parents resolve through XInheritanceFullNamePass (name lookup
        # across the case corpus + import-derived external stubs); C++/Java
        # keep the frontend's raw inheritsFrom entries
        is_js = case["lang"] == "javascript"
        ih_res: dict[int, list[str]] = {}
        if is_js:
            ih_res = resolve_js_parents(rows)
        for r in rows:
            if r["kind"] == M.TYPE_DECL:
                # JS parents come from the resolver only (trivial ANY/object
                # entries drop); other frontends keep the raw inheritsFrom
                # entries
                ps = ih_res.get(id(r), []) if is_js \
                    else r.get("inherits_from") or []
                for p in ps:
                    out.add(("inherits", r["name"], p))

    if case.get("ast") is not None:
        for r in rows:
            p = by_idx.get(r["parent_idx"])
            if p is not None:
                for k in keys.get(p["node_idx"], []):
                    out.add(("ast", k, display_code(r)))

    if case.get("refs") is not None:
        # identifier.refOut golden positions (MixedAstCreationPassTests
        # "AST variable scoping and linking":44-196): obj spells the REF
        # target's display code AND its parent's plain subject key, so the
        # assertion distinguishes a local in the method block from one in
        # a nested block (var hoisting / let shadowing)
        for r in rows:
            if r.get("ref_idx", -1) is not None and r.get("ref_idx", -1) >= 0:
                tgt = by_idx.get(r["ref_idx"])
                if tgt is None:
                    continue
                p = by_idx.get(tgt["parent_idx"])
                pk = keys.get(p["node_idx"], [""])[0] if p is not None else ""
                emit("refs", r["node_idx"], f"{display_code(tgt)}&{pk}")

    if case.get("roledge") is not None:
        # control-structure body edges (TRUE_BODY/FALSE_BODY/FOR_INIT/...)
        # keyed by the parent structure (jssrc ControlStructureTests)
        for r in rows:
            role = r.get("role") or ""
            if role and r["parent_idx"] is not None:
                lbl = M.ROLE_EDGE_LABELS.get(role, role)
                for k in keys.get(r["parent_idx"], []):
                    out.add(("roledge", k, f"{lbl}:{display_code(r)}"))

    if case.get("methods") is not None:
        for r in rows:
            if r["kind"] == M.METHOD:
                out.add(("methods", r["name"], r["full_name"]))

    if case.get("typerec") is not None:
        # XTypeRecovery facts: recovered call methodFullNames keyed by the
        # call code, identifier type hints keyed by `id:<var>` with the
        # hint set sorted (flow-insensitive union, TypeRecoveryPassTests)
        rec, st = recover_js(rows)
        for idx, mfn in rec.items():
            out.add(("typerec", by_idx[idx]["code"], mfn))
        for var, tys in st.items():
            if not var.startswith("_tmp_"):
                # `ret:<method>` rows are method-return types (their own
                # subject spelling); plain vars keep the id: prefix
                subj = var if var.startswith("ret:") else f"id:{var}"
                out.add(("typerec", subj, ",".join(sorted(tys))))

    if case.get("tdcode") is not None:
        # TYPE_DECL CODE spelling ("class Local", LocalClassTests
        # "have the correct code set")
        for r in rows:
            if r["kind"] == M.TYPE_DECL:
                out.add(("tdcode", r["name"], r["code"]))

    if case.get("tdowner") is not None:
        # TYPE_DECL -> its AST parent fullName (namespaceBlock.typeDecl
        # traversal, NamespaceBlockTests.scala:34-36)
        for r in rows:
            if r["kind"] == M.TYPE_DECL and r.get("ast_parent_full_name"):
                out.add(("tdowner", r["name"], r["ast_parent_full_name"]))

    if case.get("nsblock") is not None:
        # NAMESPACE_BLOCK (name, fullName) pairs (NamespaceTypeTests:
        # `{file}:{dotted}` naming)
        for r in rows:
            if r["kind"] == M.NAMESPACE_BLOCK:
                out.add(("nsblock", r["name"], r["full_name"]))

    if case.get("tdalias") is not None:
        # TYPE_DECL aliasTypeFullName pairs (typedef cross-links,
        # EnumTypeTests "simple enum typedef")
        for r in rows:
            if r["kind"] == M.TYPE_DECL and r.get("alias_type_full_name"):
                out.add(("tdalias", r["name"], r["alias_type_full_name"]))

    if case.get("mcount") is not None:
        cnt: dict[str, int] = defaultdict(int)
        for r in rows:
            if r["kind"] == M.METHOD:
                cnt[r["full_name"]] += 1
        for fn, n in cnt.items():
            out.add(("mcount", fn, str(n)))

    if case.get("callmfn") is not None:
        # cpg.call.name(X).methodFullName.l — subject = call name, objects
        # the methodFullNames of every call site with that name
        for r in rows:
            if r["kind"] == M.CALL and r["method_full_name"]:
                out.add(("callmfn", r["name"], r["method_full_name"]))

    if case.get("imports") is not None:
        # cpg.imports — subject = the IMPORT node code, object =
        # importedAs|importedEntity (ImportTests.scala:26-36)
        for r in rows:
            if r["kind"] == M.IMPORT:
                out.add(("imports", r["code"],
                         f'{r["canonical_name"] or ""}|{r["full_name"]}'))

    if case.get("nodetype") is not None:
        # node typeFullName keyed like cfg subjects — identifier/literal/
        # call .typeFullName golden assertions (LiteralTests,
        # FieldAccessTests, TypeTests)
        for r in rows:
            for k in keys.get(r["node_idx"], []):
                out.add(("nodetype", k, r["type_full_name"] or ""))

    if case.get("nodemfn") is not None:
        # METHOD_REF methodFullName keyed like cfg subjects
        for r in rows:
            if r["kind"] == M.METHOD_REF:
                for k in keys.get(r["node_idx"], []):
                    out.add(("nodemfn", k, r["method_full_name"] or ""))

    if case.get("annot") is not None:
        # cpg.method/.typeDecl .annotation — subject = owner name, object =
        # name|fullName|code (AnnotationTests node properties)
        for r in rows:
            if r["kind"] == M.ANNOTATION:
                p = by_idx.get(r["parent_idx"])
                if p is not None and p["kind"] in (M.METHOD, M.TYPE_DECL,
                                                   M.MEMBER,
                                                   M.METHOD_PARAMETER_IN):
                    out.add(("annot", p["name"],
                             f'{r["name"]}|{r["full_name"]}|{r["code"]}'))

    if case.get("annotkids") is not None:
        # annotation parameter tree: child codes under ANNOTATION /
        # ANNOTATION_PARAMETER_ASSIGN parents, subject = parent code
        for r in rows:
            p = by_idx.get(r["parent_idx"])
            if p is not None and p["kind"] in (
                    M.ANNOTATION, M.ANNOTATION_PARAMETER_ASSIGN):
                out.add(("annotkids", p["code"], r["code"]))

    if case.get("cs") is not None or case.get("cscond") is not None:
        methods = {r["node_idx"]: r for r in rows if r["kind"] == M.METHOD}
        cs_rows = [r for r in rows if r["kind"] == M.CONTROL_STRUCTURE]
        for r in cs_rows:
            m = methods.get(r["method_idx"])
            if m is None:
                continue
            subj = f'{m["name"]}:{r["control_structure_type"]}'
            if case.get("cs") is not None:
                out.add(("cs", subj, r["code"]))
            if case.get("cscond") is not None:
                for c in rows:
                    if (c["parent_idx"] == r["node_idx"]
                            and c["role"] == M.ROLE_CONDITION):
                        out.add(("cscond", subj, c["code"]))

    if case.get("gensig") is not None:
        # genericSignature keyed by `KIND:name` — cpg.local/.method/.member/
        # .typeDecl .name(X).genericSignature.l golden values
        # (GenericSignatureTests.scala)
        for r in rows:
            gs = r.get("generic_signature") or ""
            if gs:
                out.add(("gensig", f'{r["kind"]}:{r["name"]}', gs))

    if case.get("msig") is not None:
        # METHOD signature keyed by name (AstCreationPassTests "Method AST
        # layout" signature assertions)
        for r in rows:
            if r["kind"] == M.METHOD:
                out.add(("msig", r["name"], r["signature"] or ""))

    if case.get("paramcode") is not None:
        # parameter CODE spelling ("const char *a") keyed method.param
        methods = {r["node_idx"]: r for r in rows if r["kind"] == M.METHOD}
        for r in rows:
            if r["kind"] == M.METHOD_PARAMETER_IN:
                m = methods.get(r["method_idx"])
                if m is not None:
                    out.add(("paramcode", f'{m["name"]}.{r["name"]}',
                             r["code"]))

    if case.get("params") is not None:
        methods = {r["node_idx"]: r for r in rows if r["kind"] == M.METHOD}
        for r in rows:
            if r["kind"] == M.METHOD_PARAMETER_IN:
                m = methods.get(r["method_idx"])
                if m is not None:
                    out.add(("params", f'{m["name"]}.{r["name"]}',
                             f'{r["param_index"]}:{r["type_full_name"]}:'
                             f'{r["evaluation_strategy"]}'))

    if case.get("locals") is not None:
        methods = {r["node_idx"]: r for r in rows if r["kind"] == M.METHOD}
        for r in rows:
            if r["kind"] == M.LOCAL:
                m = methods.get(r["method_idx"])
                if m is not None:
                    out.add(("locals", f'{m["name"]}.{r["name"]}',
                             f'{r["code"]}|{r["type_full_name"]}'))

    if case.get("members") is not None or case.get("membercode") is not None:
        tds = {r["node_idx"]: r for r in rows if r["kind"] == M.TYPE_DECL}
        for r in rows:
            if r["kind"] == M.MEMBER:
                td = tds.get(r["parent_idx"])
                if td is not None:
                    out.add(("members", f'{td["name"]}.{r["name"]}',
                             r["type_full_name"]))
                    # member CODE keeps the raw declarator spelling
                    # (StructTypeTests "*foo" / "a[SIZE - 1]")
                    out.add(("membercode", f'{td["name"]}.{r["name"]}',
                             r["code"]))

    if case.get("bindings") is not None:
        # sequential mirror of operators.bindings.binding_relation
        tds = [r for r in rows if r["kind"] == M.TYPE_DECL]
        own_m: dict[str, list] = defaultdict(list)
        ext_b: dict[str, list] = defaultdict(list)
        for r in rows:
            if (r["kind"] == M.METHOD and r["ast_parent_type"] == M.TYPE_DECL
                    and r["ast_parent_full_name"]):
                own_m[r["ast_parent_full_name"]].append(
                    (r["name"], r["signature"], r["full_name"]))
            elif r["kind"] == M.BINDING:
                ext_b[r["ast_parent_full_name"]].append(
                    (r["name"], r["signature"], r["method_full_name"]))
        sup = {r["full_name"]: list(r.get("inherits_from") or []) for r in tds}

        def _ancestors(fn: str, seen: set | None = None) -> set:
            seen = set() if seen is None else seen
            for s in sup.get(fn, []):
                if s not in seen:
                    seen.add(s)
                    _ancestors(s, seen)
            return seen

        def _arity(sig: str) -> int:
            inner = sig[sig.find("(") + 1:sig.rfind(")")] if "(" in sig else ""
            return 0 if not inner else inner.count(",") + 1

        for td in tds:
            fn = td["full_name"]
            # (prio, target) min-wins — the same own < erasure-row <
            # inherited ordering (ties on target_fn) binding_relation's
            # min_by applies, so mirror and Spark stay bit-identical
            entries: dict[tuple[str, str], tuple[int, str]] = {}

            def _offer(entries, k, v):
                if k not in entries or v < entries[k]:
                    entries[k] = v

            for prio, lst in ((0, own_m.get(fn, [])), (1, ext_b.get(fn, []))):
                for n, s, t in lst:
                    _offer(entries, (n, s), (prio, t))
            ovr: dict[tuple[str, int], str] = {}
            for n, s, t in own_m.get(fn, []):
                k = (n, _arity(s))
                if k not in ovr or t < ovr[k]:
                    ovr[k] = t
            for anc in sorted(_ancestors(fn)):
                for n, s, t in own_m.get(anc, []) + ext_b.get(anc, []):
                    if n == "<init>":
                        continue
                    _offer(entries, (n, s), (2, ovr.get((n, _arity(s)), t)))
            for (n, s), (_, t) in entries.items():
                out.add(("bindings", f'{td["name"]}:{n}', f"{s}->{t}"))

    if case.get("captures") is not None:
        # (closure method name, captured declaration name) — an identifier
        # USE whose REF-target declaration lives in an enclosing method
        # (LambdaTests.scala:121-155; base.capture_edges is the same rule)
        methods = {r["node_idx"]: r for r in rows if r["kind"] == M.METHOD}
        decls = {r["node_idx"]: r for r in rows
                 if r["kind"] in (M.LOCAL, M.METHOD_PARAMETER_IN)}
        for r in rows:
            if r["kind"] == M.IDENTIFIER and r["ref_idx"] >= 0:
                d = decls.get(r["ref_idx"])
                if d is not None and d["method_idx"] != r["method_idx"]:
                    m = methods.get(r["method_idx"])
                    if m is not None:
                        out.add(("captures", m["name"], d["name"]))

    if case.get("flows"):
        from joern_spark.parity.flows import case_flow_facts
        for s, o in case_flow_facts(rows, case["flows"], case.get("semantics")):
            out.add(("flows", s, o))
    return out


# --------------------------------------------------------------------------- #
# Scoring.
# --------------------------------------------------------------------------- #

def score_case(case: dict, got_all: set[tuple[str, str, str]] | None = None):
    """-> list of (lang, case, relation, tp, fp, fn) for the facts
    ``got_all`` (default: ``python_case_facts(case)``)."""
    want = set()
    subjects: dict[str, set[str]] = defaultdict(set)
    for rel, s, o in want_facts(case):
        subjects[rel].add(s)
        if o != "":
            want.add((rel, s, o))
    if got_all is None:
        got_all = python_case_facts(case)
    got = {(rel, s, o) for rel, s, o in got_all if s in subjects.get(rel, ())}
    per: dict[str, list[int]] = defaultdict(lambda: [0, 0, 0])
    for rel, s, o in got & want:
        per[rel][0] += 1
    for rel, s, o in got - want:
        if rel not in PARTIAL_RELATIONS:
            per[rel][1] += 1
    for rel, s, o in want - got:
        per[rel][2] += 1
    for rel in subjects:
        per[rel]  # touch so zero-rows (all-empty assertions) still appear
    return [(case["lang"], case["name"], rel, v[0], v[1], v[2])
            for rel, v in sorted(per.items())]


def score_corpus(cases: list[dict] | None = None):
    """-> (per_case rows, summary rows (lang, relation, tp, fp, fn, p, r))."""
    cases = cases if cases is not None else corpus()
    rows = []
    for c in cases:
        rows += score_case(c)
    agg: dict[tuple[str, str], list[int]] = defaultdict(lambda: [0, 0, 0])
    for lang, _name, rel, tp, fp, fn in rows:
        a = agg[(lang, rel)]
        a[0] += tp
        a[1] += fp
        a[2] += fn
    summary = []
    for (lang, rel), (tp, fp, fn) in sorted(agg.items()):
        p = tp / (tp + fp) if tp + fp else 1.0
        r = tp / (tp + fn) if tp + fn else 1.0
        summary.append((lang, rel, tp, fp, fn, round(p, 4), round(r, 4)))
    return rows, summary
