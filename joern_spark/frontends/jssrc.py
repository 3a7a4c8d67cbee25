"""JavaScript frontend: recursive-descent parser emitting Joern-style CPG
nodes.

Reproduces the reference jssrc2cpg *conventions* (not its code — the
reference wraps Babel output in Scala):

* per-file pseudo-method ``:program`` wrapping top-level statements
  (jssrc2cpg/.../astcreation/AstCreator — program method)
* function fullname ``filename:scopePath:name`` with a uniquing counter for
  same-scope collisions (jssrc2cpg/.../AstCreatorHelper.scala:200-220);
  anonymous functions ``<lambda>N`` (x2cpg/.../Defines.scala:35)
* dynamic calls with unknown targets → methodFullName ``<unknownFullName>``
  (x2cpg/.../Defines.scala:32)
* member access lowers to ``<operator>.fieldAccess``; JS conditions are not
  ``!= 0``-wrapped (that is c2cpg-only)

Subclasses the shared recursive-descent machinery in ``clike.py`` with a
JS-specific tokenizer (regex literals, template strings) and overrides for
var/let/const, function declarations/expressions/arrows, classes,
for-in/for-of, object/array literals, and the name/dispatch scheme.
"""

from __future__ import annotations

import re

from joern_spark import model as M
from joern_spark.frontends.astnode import N
from joern_spark.frontends.clike import CParser, ParseError, Tok

JS_KEYWORDS = frozenset(
    """break case catch class const continue debugger default delete do else
    export extends finally for function if import in instanceof let new of
    return static super switch this throw try typeof var void while with
    yield async await get set true false null undefined""".split()
)

_JS_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<comment>//[^\n]*|/\*.*?\*/)
  | (?P<num>0[xXbBoO][0-9a-fA-F]+n?|\d+\.\d*(?:[eE][+-]?\d+)?|\.\d+|\d+(?:[eE][+-]?\d+)?n?)
  | (?P<str>"(?:\\.|[^"\\])*"|'(?:\\.|[^'\\])*'|`(?:\\.|[^`\\])*`)
  | (?P<id>[A-Za-z_$][A-Za-z0-9_$]*)
  | (?P<punct>===|!==|\*\*=|<<=|>>>=|>>=|\.\.\.|=>|\?\.|\?\?=|\?\?|\*\*|<<|>>>|>>|<=|>=|==|!=|&&=|\|\|=|&&|\|\||\+\+|--|\+=|-=|\*=|/=|%=|&=|\^=|\|=|[{}()\[\];,.<>+\-*/%&|^~!?=:@#])
    """,
    re.VERBOSE | re.DOTALL,
)

# tokens after which a `/` starts a regex literal, not division
_REGEX_PREV_OK = frozenset(
    "( [ { , ; : ! & | ? + - * % ^ ~ < > = == === != !== && || => return typeof "
    "instanceof in of new delete void case do else".split()
)

OP_EXPONENT = M.OP + "exponentiation"
OP_NULLISH = M.OP + "nullishCoalescing"
OP_TYPEOF = M.OP + "typeOf"
OP_VOID = M.OP + "void"
OP_SPREAD = M.OP + "spread"
ECMA_ARRAY_FACTORY = "__ecma.Array.factory"  # EcmaBuiltins.arrayFactory
OP_SPREAD = M.OP + "spread"
OP_IN = M.OP + "in"


def tokenize_js(src: str) -> list[Tok]:
    toks: list[Tok] = []
    line = 1
    i, n = 0, len(src)
    prev_significant: Tok | None = None
    while i < n:
        c = src[i]
        if c == "/" and (i + 1 < n and src[i + 1] not in "/*"):
            # regex literal heuristic
            prev_ok = prev_significant is None or prev_significant.v in _REGEX_PREV_OK \
                or (prev_significant.t == "kw" and prev_significant.v not in ("this", "true", "false", "null", "undefined"))
            if prev_ok:
                j = i + 1
                in_class = False
                while j < n:
                    ch = src[j]
                    if ch == "\\":
                        j += 2
                        continue
                    if ch == "[":
                        in_class = True
                    elif ch == "]":
                        in_class = False
                    elif ch == "/" and not in_class:
                        break
                    elif ch == "\n":
                        break
                    j += 1
                if j < n and src[j] == "/":
                    j += 1
                    while j < n and src[j].isalpha():
                        j += 1
                    tok = Tok("str", src[i:j], i, j, line)
                    toks.append(tok)
                    prev_significant = tok
                    i = j
                    continue
        m = _JS_TOKEN_RE.match(src, i)
        if not m:
            i += 1
            continue
        kind = m.lastgroup
        text = m.group()
        if kind in ("ws", "comment"):
            line += text.count("\n")
        else:
            t = kind
            if kind == "id" and text in JS_KEYWORDS:
                t = "kw"
            if text == "?.":  # optional chaining lowers like plain access
                text = "."
            tok = Tok(t, text, m.start(), m.end(), line)
            toks.append(tok)
            prev_significant = tok
            line += text.count("\n")
        i = m.end()
    return toks


_JS_ESCAPES = {"n": "\n", "t": "\t", "r": "\r", "b": "\b", "f": "\f",
               "v": "\v", "0": "\0", "\n": ""}


def _js_cooked(raw: str) -> str:
    """Interpret JS escape sequences, mirroring Babel's cooked `value`
    (jssrc2cpg AstForPrimitivesCreator.scala:35-38 renders CODE as the
    double-quoted cooked value, not the raw source)."""
    if "\\" not in raw:
        return raw
    out: list[str] = []
    i, n = 0, len(raw)
    while i < n:
        c = raw[i]
        if c != "\\" or i + 1 >= n:
            out.append(c)
            i += 1
            continue
        e = raw[i + 1]
        if e in _JS_ESCAPES:
            out.append(_JS_ESCAPES[e])
            i += 2
        elif e == "x" and i + 3 < n:
            try:
                out.append(chr(int(raw[i + 2:i + 4], 16)))
                i += 4
            except ValueError:
                out.append(e)
                i += 2
        elif e == "u":
            if i + 2 < n and raw[i + 2] == "{":
                end = raw.find("}", i + 3)
                try:
                    out.append(chr(int(raw[i + 3:end], 16)))
                    i = end + 1
                    continue
                except (ValueError, OverflowError):
                    pass
            try:
                out.append(chr(int(raw[i + 2:i + 6], 16)))
                i += 6
            except ValueError:
                out.append(e)
                i += 2
        else:
            out.append(e)
            i += 2
    return "".join(out)


# dotted GlobalBuiltins entries that resolve member calls statically
# (x2cpg/.../frontendspecific/jssrc2cpg/GlobalBuiltins.scala — the dotted
# subset; bare-name builtins resolve through the identifier path)
JS_GLOBAL_BUILTINS = frozenset((
    "JSON.parse", "JSON.stringify", "Number.parseFloat", "Number.parseInt",
    "Buffer.from", "Object.assign", "Object.create",
    "Object.defineProperties", "Object.defineProperty", "Object.entries",
    "Object.freeze", "Object.fromEntries",
    "Object.getOwnPropertyDescriptor", "Object.getOwnPropertyDescriptors",
    "Object.getOwnPropertyNames", "Object.getOwnPropertySymbols",
    "Object.getPrototypeOf", "Object.is", "Object.isExtensible",
    "Object.isFrozen",
))

# TS primitive annotations -> reference type fullnames (Defines.scala)
TS_PRIMS = {"number": "__ecma.Number", "string": "__ecma.String",
            "boolean": "__ecma.Boolean", "any": "ANY",
            "void": "void", "bigint": "__ecma.BigInt",
            "symbol": "__ecma.Symbol"}


class JsParser(CParser):
    MAX_TOKENS = 400_000
    # computed member access `a[b]` -> <operator>.indexAccess (jssrc
    # createIndexAccessCallAst via AstForExpressionsCreator.scala:162)
    SUBSCRIPT_OP = M.OP_INDEX_ACCESS

    def __init__(self, content: str, path: str):
        # bypass CParser.__init__ tokenizer
        self.src = content
        self.path = path
        self.lang = "javascript"
        self.toks = tokenize_js(content)
        if len(self.toks) > self.MAX_TOKENS:
            raise ParseError(f"file too large: {len(self.toks)} tokens")
        self.pos = 0
        self.fuel = 300 * (len(self.toks) + 64)  # see CParser.__init__
        self.scopes = [{}]
        self.ns = []
        self.global_block = f"{path}:{M.GLOBAL}"
        self.typedefs = set()
        self.declared_types = {}
        self.scope_path: list[str] = []  # function-name path for fullnames
        self.lambda_counter = 0
        self.anon_class_counter = 0
        self.iter_counter = 0  # `_iterator_N`/`_result_N` for-in/of temps
        # function-scope frames for `var` hoisting + unresolved-reference
        # locals (x2cpg VariableScopeManager.createVariableReferenceLinks:
        # var declarations are MethodScope-visible anywhere in the function;
        # references that resolve nowhere get a synthesized LOCAL in their
        # innermost enclosing method's block). Index 0 is the :program frame.
        self.fn_frames: list[dict] = [
            {"vars": {}, "pending": [], "block": None, "synth": {},
             "parent": None}]
        self.name_counts: dict[str, int] = {}  # same-scope uniquing
        self.tmp_counter = 0  # `_tmp_N` temporaries (per file, like the
        # reference's usedVariableNames in jssrc2cpg AstCreator)

    # ---------------- bodies ----------------
    def as_block(self, stmts: list, role: str, line: int):
        """Babel keeps unbraced single-statement bodies as direct children
        of the control structure — no synthetic BLOCK wrapper
        (SimpleAstCreationPassTests "have no block for while body for
        while statement without brackets", "be correct for if"). Braced
        bodies arrive here already as a BLOCK and keep it."""
        if len(stmts) == 1 and stmts[0].kind != M.BLOCK:
            stmts[0].role = role
            return stmts[0]
        return super().as_block(stmts, role, line)

    def make_else(self, e, stmts: list):
        """jssrc has no ELSE control-structure wrapper: the else branch
        (block, statement, or else-if) hangs directly off the IF at order 3
        (SimpleAstCreationPassTests "be correct for if-else")."""
        return self.as_block(stmts, role=M.ROLE_WHEN_FALSE, line=e.line)

    # ---------------- naming ----------------
    def fullname(self, name: str) -> str:
        scope = ":".join([M.PROGRAM_METHOD] + self.scope_path)
        base = f"{self.path}:{scope}:{name}" if name else f"{self.path}:{scope}"
        cnt = self.name_counts.get(base, 0)
        self.name_counts[base] = cnt + 1
        return base if cnt == 0 else f"{base}{cnt}"

    # ---------------- entry ----------------
    def _hoist_top_level_functions(self):
        """JS function declarations hoist: pre-declare top-level `function f`
        so forward calls resolve (the reference resolves via Babel scoping)."""
        depth = 0
        for k, tok in enumerate(self.toks):
            v = tok.v
            if v in ("{", "("):
                depth += 1
            elif v in ("}", ")"):
                depth -= 1
            elif v == "function" and depth == 0 and k + 1 < len(self.toks) \
                    and self.toks[k + 1].t == "id":
                name = self.toks[k + 1].v
                full = f"{self.path}:{M.PROGRAM_METHOD}:{name}"
                marker = N(M.METHOD_REF, code=name, method_full_name=full,
                           line=tok.line)
                self.scopes[0].setdefault(name, marker)


    def _this_param(self, line: int) -> N:
        """Every jssrc2cpg method-like gets an explicit `this` parameter at
        index 0, BY_VALUE (AstCreator.scala:98-100, AstForFunctionsCreator
        .scala:348,441) — flow path renders include it ("f(this, x, y)",
        jssrc DataflowTests)."""
        return N(M.METHOD_PARAMETER_IN, code="this", name="this",
                 param_index=0, type_full_name=M.ANY, line=line,
                 evaluation_strategy=M.BY_VALUE)

    # ------------- function frames (var hoisting, unresolved refs) -------- #
    def push_fn_frame(self) -> None:
        self.fn_frames.append(
            {"vars": {}, "pending": [], "block": None, "synth": {},
             "parent": self.fn_frames[-1]})

    def pop_fn_frame(self, body_block: N) -> None:
        """Stamp the function's body block and bubble pending identifiers
        (with their origin frame) outward; resolution happens in document
        order at file end so a later `var` — or a local synthesized for an
        EARLIER unresolved use in an enclosing function — can claim them."""
        fr = self.fn_frames.pop()
        fr["block"] = body_block
        self.fn_frames[-1]["pending"].extend(fr["pending"])
        fr["pending"] = []

    def declare_var(self, name: str, node: N) -> None:
        """A `var`/destructure-target declaration: block-scoped for parse-
        time lookup AND registered function-wide for hoisted resolution."""
        self.declare(name, node)
        self.fn_frames[-1]["vars"].setdefault(name, node)

    def on_unresolved_identifier(self, node: N) -> None:
        fr = self.fn_frames[-1]
        fr["pending"].append((node, fr))

    def _resolve_program_pendings(self, program_block: N) -> None:
        """File end, document order: each pending walks its origin frame
        chain outward over hoisted `var`s AND locals already synthesized
        for earlier pendings (so a nested function's use of a name first
        used undeclared in an enclosing function CAPTURES that synthesized
        local); still unresolved -> a new LOCAL in the ORIGIN frame's
        method block (VariableScopeManager.resolve →
        createLocalForUnresolvedReference, asserted by
        MixedAstCreationPassTests :72-112 and :242-311)."""
        fr = self.fn_frames[-1]
        fr["block"] = program_block
        for ident, origin in fr["pending"]:
            nm = ident.name
            tgt, f = None, origin
            while f is not None:
                tgt = f["vars"].get(nm) or f["synth"].get(nm)
                if tgt is not None:
                    break
                f = f["parent"]
            if tgt is None:
                tgt = N(M.LOCAL, code=nm, name=nm, type_full_name=M.ANY,
                        line=ident.line)
                origin["synth"][nm] = tgt
                (origin["block"] or program_block).children.insert(0, tgt)
            ident.ref_target = tgt
        fr["pending"] = []

    def parse(self) -> list[N]:
        self._hoist_top_level_functions()
        program = N(M.METHOD, code="<program>", name=M.PROGRAM_METHOD,
                    full_name=f"{self.path}:{M.PROGRAM_METHOD}",
                    signature="", line=1, ast_parent_type=M.NAMESPACE_BLOCK,
                    ast_parent_full_name=self.global_block)
        program.add(self._this_param(1))
        block = N(M.BLOCK, code="", line=1, type_full_name=M.ANY)
        while self.peek() is not None:
            try:
                block.add(*self.parse_statement())
            except ParseError:
                # re-sync: skip one token and continue (file-level robustness)
                if self.peek() is None:
                    break
                self.next()
        program.add(block)
        program.line_end = self.toks[-1].line if self.toks else 1
        program.add(N(M.METHOD_RETURN, code="RET", type_full_name=M.ANY,
                      evaluation_strategy=M.BY_VALUE, line=1))
        self._resolve_program_pendings(block)
        self._rename_const_closures(program)
        # TS type-alias back-links: the TARGET declaration's
        # aliasTypeFullName points at the alias (TSTypesTests "type alias
        # from class defined first")
        targets = getattr(self, "ts_alias_targets", None)
        if targets:
            def _link(n: N) -> None:
                if n.kind == M.TYPE_DECL and n.name in targets \
                        and not n.alias_type_full_name:
                    alias_full = targets[n.name]
                    if n.full_name != alias_full:
                        n.alias_type_full_name = alias_full
                for ch in n.children:
                    _link(ch)
            _link(program)
        return [program]

    def _rename_const_closures(self, program: N) -> None:
        """ConstClosurePass (x2cpg/.../frontendspecific/jssrc2cpg/
        ConstClosurePass.scala): closures assigned to a `const`, to an
        object-literal field (`_tmp_X.name = <ref>`), to an export
        (`exports.name = ...`), or to a `var`/`let` assigned exactly once,
        take the target's name: METHOD name/fullName become
        `<enclosing>:<name>`, the METHOD_REF and every call site linked to
        the old fullname follow."""
        assign_counts: dict[str, int] = {}
        # (name, kind, methodref, enclosing)
        candidates: list[tuple[str, str, N, str]] = []

        def outer_refs(n: N) -> list[N]:
            # METHOD_REFs in the source subtree NOT nested inside another
            # METHOD (the reference's `source.ast.isMethodRef` never sees
            # refs inside a referenced method's body — here methods hang
            # under their METHOD_REF, so stop descending at METHODs)
            out: list[N] = []
            if n.kind == M.METHOD_REF:
                out.append(n)
            for c in n.children:
                if c.kind != M.METHOD:
                    out.extend(outer_refs(c))
            return out

        def walk(node: N, enclosing: str) -> None:
            enc = node.full_name if node.kind == M.METHOD else enclosing
            if node.kind == M.CALL and node.name == M.OP_ASSIGNMENT:
                tgt = next((c for c in node.children if c.arg_index == 1), None)
                src = next((c for c in node.children if c.arg_index == 2), None)
                if tgt is not None and tgt.kind == M.IDENTIFIER:
                    assign_counts[tgt.name] = assign_counts.get(tgt.name, 0) + 1
                if tgt is not None and src is not None:
                    direct = src if src.kind == M.METHOD_REF else None
                    if tgt.kind == M.IDENTIFIER \
                            and node.code.startswith("const ") \
                            and direct is not None:
                        candidates.append((tgt.name, "const", direct, enc))
                    elif tgt.kind == M.IDENTIFIER \
                            and node.code.startswith(("var ", "let ")) \
                            and direct is not None:
                        candidates.append((tgt.name, "mutable", direct, enc))
                    elif tgt.kind == M.CALL and (
                            node.code.startswith("_tmp_")
                            or node.code.startswith("export")):
                        fi = next((c for c in tgt.children
                                   if c.kind == M.FIELD_IDENTIFIER), None)
                        refs = outer_refs(src)
                        if fi is not None and refs:
                            candidates.append((fi.canonical_name, "const",
                                               refs[0], enc))
            for c in node.children:
                walk(c, enc)

        walk(program, program.full_name)
        renames: dict[str, str] = {}
        for name, kind, ref, enc in candidates:
            if kind == "mutable" and assign_counts.get(name, 0) != 1:
                continue
            meth = next((c for c in ref.children if c.kind == M.METHOD), None)
            if meth is None:
                continue
            full = f"{enc}:{name}"
            renames[meth.full_name] = full
            meth.name = name
            meth.full_name = full
            ref.method_full_name = full
        if not renames:
            return

        def rewrite(n: N) -> None:  # call sites linked before the rename
            if n.kind in (M.CALL, M.METHOD_REF, M.LOCAL) \
                    and n.method_full_name in renames:
                n.method_full_name = renames[n.method_full_name]
            for c in n.children:
                rewrite(c)
        rewrite(program)

    # ---------------- statements ----------------
    def wrap_condition(self, cond: N) -> N:
        return cond  # JS conditions are truthy — no !=0 wrap

    def empty_loop_condition(self, kw):
        # `for (;;)` gets a literal `true` condition
        # (jssrc2cpg SimpleCfgCreationPassTests.scala:576-583)
        return N(M.LITERAL, code="true", line=kw.line, type_full_name=M.ANY)

    def parse_return(self) -> N:
        # JS return code has no trailing semicolon ("return x",
        # SimpleCfgCreationPassTests.scala:224-229) and ASI allows omitting it
        r = self.next()
        expr = None
        if self.peek() is not None and not self.at(";") and not self.at("}"):
            expr = self.parse_expression()
        end = self.toks[self.pos - 1]
        code = self.slice(r, end) if expr is not None else "return"
        if self.at(";"):
            self.next()
        node = N(M.RETURN, code=code, line=r.line)
        if expr is not None:
            expr.arg_index = 1
            node.add(expr)
        return node

    def parse_try(self) -> N:
        # try/catch(err)/finally — the catch parameter is an IDENTIFIER in
        # the CFG (succOf("open()") = {err, close},
        # SimpleCfgCreationPassTests.scala:123-140)
        kw = self.next()
        node = N(M.CONTROL_STRUCTURE, code="try",
                 control_structure_type=M.CS_TRY, line=kw.line)
        body = self.parse_compound()
        body.role = M.ROLE_TRY_BODY
        node.add(body)
        while self.at("catch"):
            c = self.next()
            catch = N(M.CONTROL_STRUCTURE, code="catch",
                      control_structure_type=M.CS_CATCH,
                      role=M.ROLE_CATCH_BODY, line=c.line)
            self.push_scope()
            if self.at("("):
                self.next()
                if self.peek() is not None and self.peek().t in ("id", "kw") \
                        and not self.at(")"):
                    pn = self.next()
                    loc = N(M.LOCAL, code=pn.v, name=pn.v,
                            type_full_name=M.ANY, line=pn.line)
                    ident = N(M.IDENTIFIER, code=pn.v, name=pn.v, line=pn.line,
                              type_full_name=M.ANY)
                    ident.ref_target = loc
                    catch.add(loc)
                    catch.add(ident)
                    self.declare(pn.v, loc)
                self.expect(")")
            catch.add(self.parse_compound())
            self.pop_scope()
            node.add(catch)
        if self.at("finally"):
            f = self.next()
            # FINALLY CONTROL_STRUCTURE wrapper around the block, order 3
            # (astForTryStatement AstForStatementsCreator.scala:103-109)
            fin = N(M.CONTROL_STRUCTURE, code="finally",
                    control_structure_type=M.CS_FINALLY,
                    role=M.ROLE_FINALLY_BODY, line=f.line)
            fin.add(self.parse_compound())
            node.add(fin)
        return node

    def looks_like_type(self) -> bool:
        return False  # no C-style declarations in JS

    def parse_statement(self) -> list[N]:
        t = self.peek()
        if t is None:
            return []
        v = t.v
        if v == "(" and self._paren_destructure_ahead():
            # `({a, b} = x);` / `([a, b] = x);` — parenthesized destructuring
            # assignment, lowered exactly like the declaration form
            # (MixedAstCreationPassTests "object destruction assignment
            # without declaration":637-666)
            lp = self.next()
            is_array = self.at("[")
            elems = self.parse_destructure_elements(is_array)
            self.expect("=")
            rhs_start = self.pos
            self._skip_assignment_expr_tokens()
            rhs_raw = self.slice(self.toks[rhs_start], self.toks[self.pos - 1])
            rp = self.expect(")")
            code_str = self.slice(lp, rp)
            if self.at(";"):
                self.next()
            return [self.lower_destructure_stmt(
                elems, rhs_raw, code_str, lp.line, is_array)]
        if v in ("var", "let", "const"):
            return self.parse_var_decl()
        if v == "type" and self.peek(1) is not None \
                and self.peek(1).t == "id" \
                and self.peek(2) is not None and self.peek(2).v == "=":
            return self._parse_ts_type_alias(t)
        if v == "enum" and self.peek(1) is not None \
                and self.peek(1).t == "id" \
                and self.peek(2) is not None and self.peek(2).v == "{":
            return self._parse_ts_enum(t)
        if v == "const" and self.peek(1) is not None \
                and self.peek(1).v == "enum":
            self.next()
            return self._parse_ts_enum(self.peek())
        if v == "interface" and self.peek(1) is not None \
                and self.peek(1).t == "id" \
                and self.peek(2) is not None \
                and self.peek(2).v in ("{", "extends"):
            return self._parse_ts_interface(t)
        if v == "function":
            return self._function_declaration_stmt()
        if v == "class":
            # a class STATEMENT also emits the synthetic assignment
            # `ClassA = <constructor ref>` plus a program/function-level
            # local for the class name (JsClassesAstCreationPassTests
            # :41-52 "have a synthetic assignment for ClassA", :54-65)
            c = self.parse_js_class()
            if c is None:
                return []
            if c.name.startswith("<anon-class>"):
                return [c]
            loc = N(M.LOCAL, code=c.name, name=c.name, type_full_name=M.ANY,
                    line=c.line)
            self.declare(c.name, loc)
            cf = self.class_constructor_full_name(c)
            ident = N(M.IDENTIFIER, code=c.name, name=c.name, line=c.line,
                      type_full_name=M.ANY, arg_index=1)
            ident.ref_target = loc
            ref = N(M.METHOD_REF, code="constructor() {}",
                    method_full_name=cf, type_full_name=cf, line=c.line,
                    arg_index=2)
            asg = N(M.CALL, code=f"{c.name} = class {c.name}",
                    name=M.OP_ASSIGNMENT, method_full_name=M.OP_ASSIGNMENT,
                    dispatch_type=M.STATIC_DISPATCH, line=c.line)
            asg.add(ident, ref)
            return [loc, c, asg]
        if v in ("import", "export"):
            return self.parse_import_export()
        if v == "async" and self.at("function", 1):
            self.next()
            return self._function_declaration_stmt()
        if v == "debugger":
            self.next()
            if self.at(";"):
                self.next()
            return []
        if v == "with":
            return [self._parse_with()]
        if v == "for":
            # for-in / for-of
            save = self.pos
            self.next()
            self.expect("(")
            depth = 1
            k = self.pos
            has_semi, in_of = False, None
            while k < len(self.toks) and depth > 0:
                vv = self.toks[k].v
                if vv == "(":
                    depth += 1
                elif vv == ")":
                    depth -= 1
                elif depth == 1 and vv == ";":
                    has_semi = True
                    break
                elif depth == 1 and vv in ("in", "of"):
                    in_of = vv
                    break
                k += 1
            self.pos = save
            if not has_semi and in_of:
                return [self.parse_for_in_of()]
            return super().parse_statement()
        if v == "[":
            # bare array-destructuring assignment `[a, b] = x`
            # (MixedCfgCreationPassTests.scala:268-289)
            k = self.pos
            depth = 0
            while k < len(self.toks):
                tv = self.toks[k].v
                if tv == "[":
                    depth += 1
                elif tv == "]":
                    depth -= 1
                    if depth == 0:
                        break
                k += 1
            if k + 1 < len(self.toks) and self.toks[k + 1].v == "=":
                pat_start = self.peek()
                elems = self.parse_destructure_elements(True)
                self.next()  # =
                rhs_start = self.pos
                self._skip_assignment_expr_tokens()
                rhs_raw = self.slice(self.toks[rhs_start],
                                     self.toks[self.pos - 1])
                code_str = self.slice(pat_start, self.toks[self.pos - 1])
                if self.at(";"):
                    self.next()
                return [self.lower_destructure_stmt(
                    elems, rhs_raw, code_str, pat_start.line, True)]
        return super().parse_statement()

    def _parse_with(self) -> N:
        """`with (obj) body` lowers to a BLOCK (code = the whole statement
        source) holding the object expression followed by the body
        statements — no CONTROL_STRUCTURE node (jssrc2cpg
        AstForStatementsCreator.astForWithStatement:43-58;
        SimpleAstCreationPassTests.scala:23-46)."""
        kw = self.next()
        self.expect("(")
        obj = self.parse_expression()
        self.expect(")")
        blk = N(M.BLOCK, code="", line=kw.line, type_full_name=M.ANY)
        self.push_scope()
        blk.add(obj)
        if self.at("{"):
            self.next()
            while self.peek() is not None and not self.at("}"):
                blk.add(*self.parse_statement())
            if self.at("}"):
                self.next()
        else:
            blk.add(*self.parse_statement())
        self.pop_scope()
        blk.code = self.slice(kw, self.toks[self.pos - 1])
        return blk

    def parse_label(self) -> list[N]:
        """JS labels: JUMP_TARGET code is the bare `label:` (jssrc2cpg
        SimpleCfgCreationPassTests.scala:317 succOf("loop1:")), unlike
        c2cpg's CDT rawSignature which spans the labeled statement."""
        label_tok = self.peek()
        out = super().parse_label()
        if out and out[0].kind == M.JUMP_TARGET and label_tok is not None:
            out[0].code = f"{label_tok.v}:"
        return out

    def _export_ref(self, name: str, line: int) -> N:
        """RHS for a synthesized `exports.X = X` assignment: a METHOD_REF
        when the local name is a known function/class (so XTypeRecovery's
        exports seed picks up the closure fullname), else an identifier."""
        loc = self.lookup(name)
        mfn = ""
        if loc is not None:
            mfn = getattr(loc, "method_full_name", "") or ""
            if not mfn and "::" in (getattr(loc, "type_full_name", "") or ""):
                mfn = loc.type_full_name
        if not mfn and name in self.declared_types:
            mfn = f"{self.declared_types[name]}:{M.CONSTRUCTOR}"
        if mfn:
            ref = N(M.METHOD_REF, code=name, method_full_name=mfn, line=line)
            return ref
        ident = N(M.IDENTIFIER, code=name, name=name, line=line,
                  type_full_name=M.ANY)
        if loc is not None:
            ident.ref_target = loc
        return ident

    def _export_assign(self, fld: str, rhs: N, line: int) -> N:
        """`exports.<fld> = <rhs>` — createExportAssignmentCallAst
        (jssrc2cpg AstForDeclarationsCreator.scala:186-214; default exports
        render `exports["default"]` per createExportCallAst DefaultsKey)."""
        lhs_code = 'exports["default"]' if fld == "default" else f"exports.{fld}"
        base = N(M.IDENTIFIER, code="exports", name="exports", line=line,
                 type_full_name=M.ANY, arg_index=1)
        self.on_unresolved_identifier(base)
        fi = N(M.FIELD_IDENTIFIER, code=fld, name=fld, canonical_name=fld,
               line=line, arg_index=2)
        fa = N(M.CALL, code=lhs_code, name=M.OP_FIELD_ACCESS,
               method_full_name=M.OP_FIELD_ACCESS,
               dispatch_type=M.STATIC_DISPATCH, line=line, arg_index=1)
        fa.add(base, fi)
        rhs.arg_index = 2
        asg = N(M.CALL, code=f"{lhs_code} = {rhs.code}", name=M.OP_ASSIGNMENT,
                method_full_name=M.OP_ASSIGNMENT,
                dispatch_type=M.STATIC_DISPATCH, line=line)
        asg.add(fa, rhs)
        return asg

    def parse_import_export(self) -> list[N]:
        t = self.next()
        if t.v == "export":
            # `export {...} from 'm'` / `export * from 'm'` re-exports:
            # consume through the terminating `;`, no local lowering
            if self.at("{") or self.at("*"):
                k, depth, is_reexport = self.pos, 0, False
                while k < len(self.toks):
                    v = self.toks[k].v
                    if v == "{":
                        depth += 1
                    elif v == "}":
                        depth -= 1
                    elif v == ";" and depth <= 0:
                        break
                    elif v == "from" and depth <= 0:
                        is_reexport = True
                        break
                    k += 1
                if is_reexport:
                    while self.pos < k:
                        self.next()
                    self.next()  # 'from'
                    if self.peek() is not None and self.peek().t == "str":
                        self.next()
                    if self.at(";"):
                        self.next()
                    return []
            if self.at("default"):
                # `export default <decl|expr>` lowers to an
                # `exports["default"] = <value>` assignment
                # (astForExportDefaultDeclaration)
                self.next()
                named_decl = False
                for off in range(3):  # [async] function [*] Name / class Name
                    tok = self.peek(off)
                    if tok is None:
                        break
                    if tok.v in ("async", "function", "class", "*"):
                        continue
                    named_decl = tok.t == "id"
                    break
                if named_decl and (self.at_any(("class", "function")) or (
                        self.at("async") and self.at("function", 1))):
                    stmts = self.parse_statement()
                    names = [n.name for n in stmts if n.kind == M.LOCAL
                             and n.name]
                    out = list(stmts)
                    if names:
                        out.append(self._export_assign(
                            "default", self._export_ref(names[0], t.line),
                            t.line))
                    return out
                expr = self.parse_assignment_expr()
                if self.at(";"):
                    self.next()
                if expr.kind == M.IDENTIFIER:
                    expr = self._export_ref(expr.name, t.line)
                return [self._export_assign("default", expr, t.line)]
            if self.at("{"):
                # `export { a, b as c };` — one exports assignment per
                # specifier (astForExportNamedDeclaration specifiers)
                self.next()
                specs: list[tuple[str, str]] = []  # (local, exported)
                while self.peek() is not None and not self.at("}"):
                    tok = self.next()
                    if tok.t in ("id", "kw") and tok.v not in ("as", ","):
                        if specs and self.toks[self.pos - 2].v == "as":
                            specs[-1] = (specs[-1][0], tok.v)
                        else:
                            specs.append((tok.v, tok.v))
                if self.at("}"):
                    self.next()
                if self.at(";"):
                    self.next()
                return [self._export_assign(exp, self._export_ref(
                    loc_name, t.line), t.line) for loc_name, exp in specs]
            # `export <decl>` — the declaration plus `exports.X = X` per
            # declared name
            stmts = self.parse_statement()
            out = list(stmts)
            for n in stmts:
                if n.kind == M.LOCAL and n.name:
                    out.append(self._export_assign(
                        n.name, self._export_ref(n.name, t.line), t.line))
            return out
        # import ... — IMPORT nodes with importedEntity (name) and
        # importedAs (canonical_name); full_name carries the TYPE the
        # binding resolves to for XTypeRecovery: `module:Alias` for named
        # and default imports (TypeRecoveryPassTests.scala: WebClient ->
        # "slack_sdk:WebClient", default google -> "googleapis:google"),
        # bare module for `import * as m` namespace imports.
        start = t
        module = ""
        named: list[str] = []     # { A, B as C } local aliases
        default_alias = ""
        star_alias = ""
        while self.peek() is not None and not self.at(";"):
            if self.at("{"):
                self.next()
                while self.peek() is not None and not self.at("}"):
                    tok = self.next()
                    if tok.t in ("id", "kw") and tok.v != "as":
                        if named and self.toks[self.pos - 2].v == "as":
                            named[-1] = tok.v  # `X as Y` rebinds to Y
                        else:
                            named.append(tok.v)
                if self.at("}"):
                    self.next()
                continue
            if self.at("*"):
                self.next()
                if self.at("as"):
                    self.next()
                    if self.peek() is not None and self.peek().t == "id":
                        star_alias = self.next().v
                continue
            tok = self.next()
            if tok.t == "str":
                module = tok.v.strip("'\"`")
            elif tok.t == "id" and tok.v not in ("from",) and not default_alias \
                    and not named and not star_alias:
                default_alias = tok.v
        semi = self.toks[self.pos - 1]
        if self.at(";"):
            semi = self.next()
        code = self.slice(start, semi)
        out = []
        for alias in named:
            out.append(N(M.IMPORT, code=code, name=module,
                         full_name=f"{module}:{alias}",
                         canonical_name=alias, line=t.line))
        if default_alias:
            out.append(N(M.IMPORT, code=code, name=module,
                         full_name=f"{module}:{default_alias}",
                         canonical_name=default_alias, line=t.line))
        if star_alias:
            out.append(N(M.IMPORT, code=code, name=module, full_name=module,
                         canonical_name=star_alias, line=t.line))
        if not out:  # bare `import "m";` side-effect import
            out.append(N(M.IMPORT, code=code, name=module, full_name=module,
                         line=t.line))
        return out

    def parse_for_init_decls(self) -> list[N] | None:
        """`for (var i = 0; ...)`: the declarators lower like a var
        statement — hoisted LOCAL + assignment with `var i = 0` code —
        and the assignment carries the FOR_INIT role (astForForStatement
        init via astForNodeWithFunctionReference,
        AstForStatementsCreator.scala:140-146; asserted by
        ControlStructureTests \"for-loop ... dedicated edges\":85-101)."""
        if self.at_any(("var", "let", "const")):
            return self.parse_var_decl(consume_semi=False)
        return None

    def parse_var_decl(self, consume_semi: bool = True) -> list[N]:
        kw = self.next()  # var/let/const
        out: list[N] = []
        while True:
            if self.at("[") or self.at("{"):
                # destructuring declaration: `var {a, b} = x` / `var [a] = x`
                pat_start = self.peek()
                is_array = self.at("[")
                elems = self.parse_destructure_elements(is_array)
                if self.at("="):
                    self.next()
                    rhs_start = self.pos
                    # advance past the rhs tokens; the lowering re-parses the
                    # raw source inside the synthesized `_tmp_k = <rhs>`
                    self._skip_assignment_expr_tokens()
                    rhs_raw = self.slice(self.toks[rhs_start],
                                         self.toks[self.pos - 1])
                    end_tok = self.toks[self.pos - 1]
                    code_str = f"{kw.v} {self.slice(pat_start, end_tok)}"
                    out.append(self.lower_destructure_stmt(
                        elems, rhs_raw, code_str, pat_start.line, is_array))
                if self.at(","):
                    self.next()
                    continue
                break
            if self.peek() is None or self.peek().t not in ("id", "kw"):
                break
            name_tok = self.next()
            name = name_tok.v
            loc = N(M.LOCAL, code=name, name=name, type_full_name=M.ANY,
                    line=name_tok.line)
            out.append(loc)
            if kw.v == "var":  # function-scoped: hoists across blocks
                self.declare_var(name, loc)
            else:
                self.declare(name, loc)
            if self.at("?"):
                self.next()
            if self.at(":"):
                # TS variable annotation `var x: string` — primitives map
                # to reference fullnames, user types stay raw
                # (TSTypesTests "have correct types for variables")
                self.next()
                a0 = self.peek()
                self._skip_ts_annotation_tokens()
                if a0 is not None and self.pos > 0 \
                        and self.toks[self.pos - 1].a >= a0.a:
                    raw_ann = self.src[a0.a:self.toks[self.pos - 1].b].strip()
                    mapped = TS_PRIMS.get(raw_ann)
                    if mapped and mapped != M.ANY:
                        loc.type_full_name = mapped
            if self.at("="):
                self.next()
                rhs_start = self.pos
                init = self.parse_assignment_expr()
                ident = N(M.IDENTIFIER, code=name, name=name, line=name_tok.line,
                          arg_index=1, type_full_name=loc.type_full_name)
                ident.ref_target = loc
                init.arg_index = 2
                # code carries the declaration keyword and the RAW source
                # slice of `name = rhs`, spacing preserved, like the
                # reference ("var x = 1" :206-212; "var z =  x ? ..." with
                # its double space, jssrc DataflowTests conditional case)
                decl_raw = self.slice(name_tok, self.toks[self.pos - 1])
                call = N(M.CALL, code=f"{kw.v} {decl_raw}",
                         name=M.OP_ASSIGNMENT,
                         method_full_name=M.OP_ASSIGNMENT,
                         dispatch_type=M.STATIC_DISPATCH, line=name_tok.line)
                call.add(ident, init)
                out.append(call)
                # function expression assigned to a var: remember for linking
                if init.kind == M.METHOD_REF and init.method_full_name:
                    loc.method_full_name = init.method_full_name
                # literal initializers seed the declaration type, like the
                # reference's literal-assignment type hints
                # (JsUsageSliceTests `listen` paramTypes __ecma.Number for
                # the `port = 3000` local)
                if init.type_full_name \
                        and (init.kind == M.LITERAL
                             or (init.kind == M.CALL
                                 and init.name == M.OP_CAST)) \
                        and init.type_full_name not in (M.ANY,
                                                        "__ecma.Null") \
                        and loc.type_full_name == M.ANY:
                    loc.type_full_name = init.type_full_name
                    ident.type_full_name = init.type_full_name
            if self.at(","):
                self.next()
                continue
            break
        if consume_semi and self.at(";"):
            self.next()
        return out

    def parse_for_in_of(self) -> N:
        """jssrc2cpg's Babel-style iterator-protocol lowering
        (AstForStatementsCreator.astForInOfStatementWithIdentifier:215-356;
        CFG asserted by SimpleCfgCreationPassTests.testForInOrOf:729-774):

            for (var i in arr) body
        ->  { var _iterator_N = <operator>.iterator(arr); _result_N; i;
              while (!(_result_N = _iterator_N.next()).done)
                { i = _result_N.value; body } }

        with the surrounding block (code = the whole for statement) as
        value node and the user body block keeping its brace source."""
        kw_tok = self.next()
        self.expect("(")
        self.push_scope()
        if self.at_any(("var", "let", "const")):
            self.next()
        # loop variable: plain identifier, or an object/array destructuring
        # pattern (astForInOfStatementWithObject/WithArray — the pattern
        # names each become a LOCAL + bare IDENTIFIER, and the while body
        # assigns `a = _result_N.value.a` (object) / `a = _result_N.value[k]`
        # (array) per name, SimpleAstCreationPassTests.scala:1825-2001)
        pat_kind = None  # None | "obj" | "arr"
        pat_names: list[str] = []
        if self.at("{") or self.at("["):
            close = "}" if self.at("{") else "]"
            pat_kind = "obj" if close == "}" else "arr"
            self.next()
            while self.peek() is not None and not self.at(close):
                t = self.next()
                if t.t in ("id", "kw"):
                    pat_names.append(t.v)
            self.expect(close)
            var = pat_names[0] if pat_names else "_"
        else:
            name_tok = self.next()
            var = name_tok.v
        self.next()  # in / of
        coll_start = self.pos
        self._skip_assignment_expr_tokens()
        coll_src = self.slice(self.toks[coll_start], self.toks[self.pos - 1])
        self.expect(")")
        line = kw_tok.line
        it = f"_iterator_{self.iter_counter}"
        res = f"_result_{self.iter_counter}"
        self.iter_counter += 1
        outer = N(M.BLOCK, code="", line=line, type_full_name=M.ANY)
        locs: dict[str, N] = {}
        for nm in (it, res, *(pat_names if pat_kind else (var,))):
            locn = N(M.LOCAL, code=nm, name=nm, type_full_name=M.ANY,
                     line=line)
            self.declare(nm, locn)
            locs[nm] = locn
            outer.add(locn)

        def ident(nm: str, arg_index: int = -1) -> N:
            n = N(M.IDENTIFIER, code=nm, name=nm, line=line,
                  type_full_name=M.ANY, arg_index=arg_index)
            n.ref_target = locs[nm]
            return n

        # _iterator_N = <operator>.iterator(<coll>)
        iter_call = N(M.CALL, code=f"<operator>.iterator({coll_src})",
                      name="<operator>.iterator",
                      method_full_name="<operator>.iterator",
                      dispatch_type=M.STATIC_DISPATCH, line=line,
                      type_full_name=M.ANY, arg_index=2)
        coll_ast = self._parse_sub_expression(coll_src, line)
        coll_ast.arg_index = 1
        iter_call.add(coll_ast)
        assign = N(M.CALL, code=f"{it} = <operator>.iterator({coll_src})",
                   name=M.OP_ASSIGNMENT, method_full_name=M.OP_ASSIGNMENT,
                   dispatch_type=M.STATIC_DISPATCH, line=line)
        assign.add(ident(it, 1), iter_call)
        outer.add(assign)
        # bare declared-variable identifier nodes (blockChildren at :353)
        outer.add(ident(res))
        for nm in (pat_names if pat_kind else [var]):
            outer.add(ident(nm))
        # while (!(_result_N = _iterator_N.next()).done) { i = ...; body }
        cond = self._parse_sub_expression(f"!({res} = {it}.next()).done",
                                          line)

        def parenthesize_assign(n: N) -> None:
            # the reference spells the inner assignment WITH its parens —
            # "(_result_0 = _iterator_0.next())" (:283-287)
            if n.code == f"{res} = {it}.next()":
                n.code = f"({n.code})"
            for c in n.children:
                parenthesize_assign(c)

        parenthesize_assign(cond)
        cond.role = M.ROLE_CONDITION
        ws = N(M.CONTROL_STRUCTURE,
               code=f"while (!({res} = {it}.next()).done)",
               control_structure_type=M.CS_WHILE, line=line)
        ws.add(cond)
        wbody = N(M.BLOCK, code="", line=line, type_full_name=M.ANY,
                  role=M.ROLE_WHEN_TRUE)
        if pat_kind == "obj":
            for nm in pat_names:
                wbody.add(self._parse_sub_expression(
                    f"{nm} = {res}.value.{nm}", line))
        elif pat_kind == "arr":
            for k, nm in enumerate(pat_names):
                wbody.add(self._parse_sub_expression(
                    f"{nm} = {res}.value[{k}]", line))
        else:
            wbody.add(self._parse_sub_expression(f"{var} = {res}.value",
                                                 line))
        body_start_tok = self.peek()
        body_stmts = self.parse_statement()
        body_end_tok = self.toks[self.pos - 1]
        user_block = self.as_block(body_stmts, role="", line=line)
        if body_start_tok is not None and body_start_tok.v == "{":
            user_block.code = self.slice(body_start_tok, body_end_tok)
        wbody.add(user_block)
        ws.add(wbody)
        outer.add(ws)
        # blockNode(forInOfStmt, forInOfStmt.code) — both the outer value
        # block and the while body carry the whole statement source
        for_src = self.slice(kw_tok, body_end_tok)
        outer.code = for_src
        wbody.code = for_src
        self.pop_scope()
        return outer

    # ---------------- functions ----------------
    last_ret_annotation = ""

    def parse_function(self, statement: bool, name_hint: str = "") -> N | None:
        kw = self.next()  # 'function'
        if self.at("*"):
            self.next()
        name = ""
        if self.peek() is not None and self.peek().t == "id":
            name = self.next().v
        if not name:
            self.lambda_counter += 1
            name = name_hint or f"{M.LAMBDA_PREFIX}{self.lambda_counter - 1}"
        full = self.fullname(name)
        method = N(M.METHOD, code=f"function {name}", name=name, full_name=full,
                   signature="", line=kw.line, ast_parent_type=M.METHOD,
                   ast_parent_full_name=f"{self.path}:{M.PROGRAM_METHOD}")
        if statement and name and not name.startswith(M.LAMBDA_PREFIX):
            # the function name is a LOCAL in the enclosing block, typed
            # with the function's fullname (SimpleAstCreationPassTests
            # "have local variable for function with correct type full
            # name"); _function_declaration_stmt places it into the AST
            fn_local = N(M.LOCAL, code=name, name=name,
                         type_full_name=full, line=kw.line)
            self.declare(name, fn_local)
            self._last_fn_local = fn_local
        self.push_scope()
        self.push_fn_frame()
        self.scope_path.append(name)
        tp = self._this_param(kw.line)
        method.add(tp)
        self.declare("this", tp)
        self.expect("(")
        defaults, destructured = self._parse_param_list(method)
        ret_ann = self.last_ret_annotation or M.ANY
        body = self.parse_compound()
        self._lower_default_params(body, defaults, kw.line)
        self._lower_destructured_params(body, destructured)
        method.add(body)
        method.line_end = body.line_end
        method.add(N(M.METHOD_RETURN, code="RET", type_full_name=ret_ann,
                     evaluation_strategy=M.BY_VALUE, line=kw.line))
        self.scope_path.pop()
        self.pop_fn_frame(body)
        self.pop_scope()
        method.add(self._function_type_decl(name, full, kw.line))
        if statement:
            return method
        # methodRefNode(func, methodName, ...) — code is the bare name
        # ("be correct for function used as return": ref.code shouldBe "foo")
        ref = N(M.METHOD_REF, code=name, method_full_name=full,
                line=kw.line)
        ref.add(method)
        return ref

    def _function_type_decl(self, name: str, full: str, line: int) -> N:
        """Every function gets a mirror TYPE_DECL (fullName == the method
        fullname) carrying one BINDING with empty name/signature that
        references the method — jssrc2cpg
        createFunctionTypeAndTypeDeclAst (x2cpg AstCreatorBase) as
        asserted by SimpleAstCreationPassTests "have corresponding type
        decl with correct bindings for function"."""
        td = N(M.TYPE_DECL, code=name, name=name, full_name=full,
               ast_parent_type=M.METHOD,
               ast_parent_full_name=f"{self.path}:{M.PROGRAM_METHOD}",
               line=line)
        b = N(M.BINDING, code=f"{name}:", name="", signature="",
              method_full_name=full, ast_parent_type=M.TYPE_DECL,
              ast_parent_full_name=full, line=line)
        td.add(b)
        return td

    def _parse_param_list(self, method: N) -> tuple[list, list]:
        """Parameter list after '(' (shared by function declarations,
        function expressions, and arrows). Returns (defaults,
        destructured) for body-front lowering."""
        i = 0
        defaults: list[tuple[str, str]] = []
        destructured: list[tuple] = []
        while not self.at(")") and self.peek() is not None:
            rest = False
            if self.at("..."):
                # rest parameter: code keeps the `...`, isVariadic, typed
                # __ecma.Array (SimpleAstCreationPassTests "empty method
                # with rest parameter"; AstForFunctionsCreator.scala:60-72)
                rest = True
                self.next()
            if self.peek() is not None and self.peek().t in ("id", "kw"):
                i += 1
                pn = self.next()
                p = N(M.METHOD_PARAMETER_IN,
                      code=f"...{pn.v}" if rest else pn.v,
                      name=pn.v, param_index=i,
                      type_full_name="__ecma.Array" if rest else M.ANY,
                      line=pn.line, is_variadic=rest,
                      evaluation_strategy=M.BY_SHARING)
                method.add(p)
                self.declare(pn.v, p)
                if self.at("?"):  # TS optional-parameter marker
                    self.next()
                if self.at(":"):  # TS parameter type annotation — keep
                    # the raw text as the declared type (XTypeRecovery
                    # resolves it against the import table,
                    # TypeRecoveryPassTests "Type hints for method
                    # parameters and returns")
                    self.next()
                    a0 = self.peek()
                    self._skip_ts_annotation_tokens()
                    if a0 is not None and self.pos > 0 \
                            and self.toks[self.pos - 1].a >= a0.a:
                        raw_ann = self.src[
                            a0.a:self.toks[self.pos - 1].b].strip()
                        # TS primitives map to the reference fullnames
                        # (TSTypesTests "TS function parameters":
                        # `a: string` -> __ecma.String, code "a: string");
                        # any array-ish annotation erases to __ecma.Array
                        # ("various array types")
                        if raw_ann.endswith("[]"):
                            p.type_full_name = "__ecma.Array"
                        else:
                            p.type_full_name = TS_PRIMS.get(
                                raw_ann, raw_ann) or M.ANY
                        if raw_ann:
                            p.code = f"{pn.v}: {raw_ann}"
                if self.at("="):  # default value
                    self.next()
                    defaults.append((pn.v, self.parse_assignment_expr().code))
            elif self.at("{") or self.at("["):
                # destructured parameter: bind `param<i>_0` and prepend
                # `<target> = param<i>_0.<key>` assignments to the body
                # (MixedCfgCreationPassTests.scala:230-243, 394-411 — array
                # patterns read `.id` fieldAccesses too, not subscripts)
                i += 1
                pat_tok = self.peek()
                is_array = self.at("[")
                elems = self.parse_destructure_elements(is_array)
                # pattern-level default: `function f({id} = {})` — lowered
                # as `_tmp_k = param === void 0 ? <dflt> : param` feeding a
                # block-form destructure (MixedCfgCreationPassTests:178-228)
                default_src = None
                if self.at("="):
                    self.next()
                    dstart = self.pos
                    self._skip_assignment_expr_tokens()
                    default_src = self.slice(self.toks[dstart],
                                             self.toks[self.pos - 1])
                pat_src = self.slice(pat_tok, self.toks[self.pos - 1])
                pname = f"param{i}_0"
                p = N(M.METHOD_PARAMETER_IN, code=pat_src, name=pname,
                      param_index=i, type_full_name=M.ANY, line=pat_tok.line,
                      evaluation_strategy=M.BY_SHARING)
                method.add(p)
                self.declare(pname, p)
                # declare the targets NOW so body identifiers REF-resolve;
                # the same LOCAL nodes are placed into the body later
                locmap: dict[str, N] = {}
                for e in elems:
                    tname = e.get("rest") or e.get("target")
                    if tname:
                        tl = N(M.LOCAL, code=tname, name=tname,
                               type_full_name=M.ANY, line=pat_tok.line)
                        self.declare(tname, tl)
                        locmap[tname] = tl
                destructured.append((pname, elems, is_array, pat_tok.line,
                                     locmap, default_src, pat_src))
            elif not self.at(",") and not self.at(")"):
                self.next()  # stray token — keep the loop progressing
            if self.at(","):
                self.next()
        self.next()
        # TS return-type annotation `): T {` — record the raw text for the
        # METHOD_RETURN and consume it so the body parses
        self.last_ret_annotation = ""
        if self.at(":"):
            self.next()
            a0 = self.peek()
            self._skip_ts_ret_annotation_tokens()
            if a0 is not None and self.toks[self.pos - 1].a >= a0.a:
                self.last_ret_annotation = self.src[
                    a0.a:self.toks[self.pos - 1].b].strip()
        return defaults, destructured

    def _skip_ts_annotation_tokens(self) -> None:
        """Skip a TS type annotation up to `,` / `=` / the closing paren."""
        depth = 0
        while self.peek() is not None:
            v = self.peek().v
            if v in ("<", "(", "["):
                depth += 1
            elif v in (">", ")", "]"):
                if depth == 0:
                    return
                depth -= 1
            elif depth == 0 and v in (",", "=", ";", "{", "}"):
                return
            self.next()

    def _skip_ts_ret_annotation_tokens(self) -> None:
        """Skip a TS return-type annotation up to the body `{` / `=>`."""
        depth = 0
        while self.peek() is not None:
            v = self.peek().v
            if v in ("<", "(", "["):
                depth += 1
            elif v in (">", ")", "]"):
                if depth == 0:
                    return
                depth -= 1
            elif depth == 0 and v in ("{", "=>", ";"):
                return
            self.next()

    def _lower_destructured_params(self, body: N, destructured: list) -> None:
        front: list[N] = []
        for pname, elems, _is_array, pline, locmap, dflt, pat_src in \
                destructured:
            # parameter destructures address elements by KEY NAME even for
            # array patterns (succOf "param1_0.id", scala:404-409)
            keyed = [dict(e, key=e.get("key", e.get("target")))
                     if "rest" not in e else e for e in elems]
            if dflt is None:
                self._destructure_stmts(keyed, pname, pline, front, False,
                                        locmap, param_mode=True)
                continue
            # guard FIRST so the default's own temporaries (`{}` object
            # literals) number before the destructure tmp, per the
            # reference's _tmp_0/_tmp_1 order (scala:181-200)
            guard = self._parse_sub_expression(
                f"{pname} === void 0 ? {dflt} : {pname}", pline)
            self._strip_void_arg(guard)
            tmpd = self._fresh_tmp(pline)
            dloc = N(M.LOCAL, code=tmpd, name=tmpd, type_full_name=M.ANY,
                     line=pline)
            self.declare(tmpd, dloc)
            blk = N(M.BLOCK, code=pat_src, line=pline, type_full_name=M.ANY)
            blk.add(dloc)
            ident = N(M.IDENTIFIER, code=tmpd, name=tmpd, line=pline,
                      type_full_name=M.ANY, arg_index=1)
            ident.ref_target = dloc
            guard.arg_index = 2
            asg = N(M.CALL,
                    code=f"{tmpd} = {pname} === void 0 ? {dflt} : {pname}",
                    name=M.OP_ASSIGNMENT, method_full_name=M.OP_ASSIGNMENT,
                    dispatch_type=M.STATIC_DISPATCH, line=pline)
            asg.add(ident, guard)
            blk.add(asg)
            stmts: list[N] = []
            self._destructure_stmts(keyed, tmpd, pline, stmts, False,
                                    locmap, param_mode=True)
            blk.add(*stmts)
            val = N(M.IDENTIFIER, code=tmpd, name=tmpd, line=pline,
                    type_full_name=M.ANY)
            val.ref_target = dloc
            blk.add(val)
            front.append(blk)
        body.children[:0] = front

    def parse_arrow(self, start_tok: Tok) -> N:
        """At the start of an arrow function (params already ahead)."""
        self.lambda_counter += 1
        name = f"{M.LAMBDA_PREFIX}{self.lambda_counter - 1}"
        full = self.fullname(name)
        method = N(M.METHOD, code="=>", name=name, full_name=full, signature="",
                   line=start_tok.line, ast_parent_type=M.METHOD,
                   ast_parent_full_name=f"{self.path}:{M.PROGRAM_METHOD}")
        self.push_scope()
        self.push_fn_frame()
        self.scope_path.append(name)
        tp = self._this_param(start_tok.line)
        method.add(tp)
        self.declare("this", tp)
        defaults: list[tuple[str, str]] = []
        destructured: list = []
        if self.at("("):
            self.next()
            defaults, destructured = self._parse_param_list(method)
        else:
            pn = self.next()
            p = N(M.METHOD_PARAMETER_IN, code=pn.v, name=pn.v, param_index=1,
                  type_full_name=M.ANY, line=pn.line,
                  evaluation_strategy=M.BY_SHARING)
            method.add(p)
            self.declare(pn.v, p)
        self.expect("=>")
        if self.at("{"):
            abody = self.parse_compound()
            self._lower_default_params(abody, defaults, start_tok.line)
            self._lower_destructured_params(abody, destructured)
            method.add(abody)
            method.line_end = abody.line_end
        else:
            body = self.parse_assignment_expr()
            abody = N(M.BLOCK, code="", line=start_tok.line,
                      type_full_name=M.ANY)
            ret = N(M.RETURN, code=f"return {body.code}", line=body.line)
            body.arg_index = 1
            ret.add(body)
            abody.add(ret)
            self._lower_default_params(abody, defaults, start_tok.line)
            self._lower_destructured_params(abody, destructured)
            method.add(abody)
        method.add(N(M.METHOD_RETURN, code="RET", type_full_name=M.ANY,
                     evaluation_strategy=M.BY_VALUE, line=start_tok.line))
        self.scope_path.pop()
        self.pop_fn_frame(abody)
        self.pop_scope()
        method.add(self._function_type_decl(name, full, start_tok.line))
        # METHOD_REF code is the lambda name (methodRefNode(func, methodName,
        # ...), AstForFunctionsCreator.scala:404-405; asserted by
        # SimpleAstCreationPassTests.scala:1573 switchExpr.code "<lambda>0")
        ref = N(M.METHOD_REF, code=name, method_full_name=full,
                line=start_tok.line)
        ref.add(method)
        return ref

    def parse_js_class(self) -> N:
        kw = self.next()
        if self.peek() is not None and self.peek().t == "id":
            name = self.next().v
        else:
            # anonymous class expressions number off per file —
            # "<anon-class>0" (jssrc AstCreatorHelper calcTypeNameAndFullName;
            # JsClassesCfgCreationPassTests "outer method of anonymous class")
            name = f"<anon-class>{self.anon_class_counter}"
            self.anon_class_counter += 1
        full = self.fullname(name)
        inherits: list[str] = []
        if self.at("extends"):
            self.next()
            base = self.parse_expression_no_assign_simple()
            inherits.append(base)
        decl = N(M.TYPE_DECL, code=f"class {name}", name=name, full_name=full,
                 inherits_from=inherits or None, line=kw.line,
                 ast_parent_type=M.NAMESPACE_BLOCK,
                 ast_parent_full_name=self.global_block)
        self.declared_types[name] = full
        self.expect("{")
        self.ns.append(name)
        self.scope_path.append(name)
        saw_ctor = False
        ctor_node: N | None = None
        field_inits: list[N] = []        # instance field inits -> ctor body
        static_inits: list[N] = []       # static field inits + static {} ->
        clinit_this: N | None = None     # <clinit> (StaticInitMethodName)
        while self.peek() is not None and not self.at("}"):
            if self.at(";"):
                self.next()
                continue
            is_static = False
            while self.at_any(("static", "async", "get", "set", "public",
                               "private", "protected", "readonly",
                               "declare", "override", "abstract")) \
                    and not self.at("(", 1):
                if self.at("static"):
                    is_static = True
                self.next()
            if self.peek() is None:
                break
            if is_static and self.at("{"):
                # static initializer block: its statements run in <clinit>
                # (JsClassesAstCreationPassTests.scala:101-157 — `static
                # { this.d = false }` asserted via clInitMethod.block)
                self.push_scope()
                if clinit_this is None:
                    clinit_this = self._this_param(self.peek().line)
                self.declare("this", clinit_this)
                sblk = self.parse_compound()
                self.pop_scope()
                static_inits.extend(sblk.children)
                continue
            mt = self.peek()
            if mt.v == "[":
                # computed method/member name `[Symbol.iterator]() {}` —
                # named by the bracketed source (it.fullName
                # "…ClassA:Symbol.iterator", code "[Symbol.iterator]() {}",
                # JsClassesAstCreationPassTests.scala:82-99)
                lb = self.next()
                k, depth = self.pos - 1, 0
                while k < len(self.toks):
                    tv = self.toks[k].v
                    if tv == "[":
                        depth += 1
                    elif tv == "]":
                        depth -= 1
                        if depth == 0:
                            break
                    k += 1
                while self.pos < k:
                    self.next()
                rb = self.expect("]")
                mname = self.src[lb.b:rb.a].strip()
                if not self.at("("):
                    decl.add(N(M.MEMBER, code=mname, name=mname,
                               type_full_name=M.ANY, line=lb.line,
                               ast_parent_type=M.TYPE_DECL,
                               ast_parent_full_name=full))
                    if self.at(";"):
                        self.next()
                    continue
                mt = lb
            if mt.t in ("id", "kw", "str") or mt.v == "[":
                if mt.v != "[":
                    mname = self.next().v.strip("'\"")
                if self.at("("):
                    if mname == "constructor":
                        # explicit constructors are named <init>
                        # (JsClassesAstCreationPassTests.scala:73-76)
                        mname = M.CONSTRUCTOR
                        mfull = f"{full}:{M.CONSTRUCTOR}"
                        saw_ctor = True
                    else:
                        mfull = self.fullname(mname)
                    method = N(M.METHOD, code=mname, name=mname, full_name=mfull,
                               signature="", line=mt.line,
                               ast_parent_type=M.TYPE_DECL,
                               ast_parent_full_name=full)
                    self.push_scope()
                    self.push_fn_frame()
                    self.scope_path.append(mname)
                    tp = self._this_param(mt.line)
                    method.add(tp)
                    self.declare("this", tp)
                    self.next()
                    i = 0
                    prop_params: list[tuple[str, str, list[str]]] = []
                    while not self.at(")"):
                        # TS parameter-property modifiers: the parameter
                        # ALSO becomes a class member assigned in the ctor
                        # (TsClassesAstCreationPassTests "parameter
                        # properties")
                        mods: list[str] = []
                        while self.peek() is not None and self.peek().v in (
                                "public", "protected", "private",
                                "readonly") and self.peek(1) is not None \
                                and self.peek(1).v not in (",", ")", ":"):
                            mods.append(self.next().v.upper())
                        if self.peek() is not None and self.peek().t in ("id", "kw"):
                            i += 1
                            pn = self.next()
                            p = N(M.METHOD_PARAMETER_IN, code=pn.v, name=pn.v,
                                  param_index=i, type_full_name=M.ANY, line=pn.line,
                                  evaluation_strategy=M.BY_SHARING)
                            pty = M.ANY
                            if self.at(":"):  # TS type annotation
                                self.next()
                                tt = self.peek()
                                self._skip_ts_annotation_tokens()
                                if tt is not None:
                                    pty = TS_PRIMS.get(tt.v, M.ANY)
                                    if pty != M.ANY:
                                        p.type_full_name = pty
                            if self.at("="):
                                self.next()
                                self._skip_assignment_expr_tokens()
                            method.add(p)
                            self.declare(pn.v, p)
                            if mods:
                                prop_params.append((pn.v, pty, mods))
                        elif self.at(","):
                            pass
                        else:
                            self.next()
                            continue
                        if self.at(","):
                            self.next()
                    self.next()
                    mbody = self.parse_compound()
                    if prop_params and mname == M.CONSTRUCTOR:
                        assigns = []
                        for pname2, pty2, mods2 in prop_params:
                            mem = N(M.MEMBER, code=pname2, name=pname2,
                                    type_full_name=pty2, line=mt.line)
                            for md in mods2:
                                mem.add(N(M.MODIFIER, code=md, name=md,
                                          line=mt.line))
                            decl.add(mem)
                            this_id = N(M.IDENTIFIER, code="this",
                                        name="this", type_full_name=full,
                                        line=mt.line, arg_index=1)
                            this_id.ref_target = tp
                            fld = N(M.FIELD_IDENTIFIER, code=pname2,
                                    name=pname2, canonical_name=pname2,
                                    line=mt.line, arg_index=2)
                            fa = N(M.CALL, code=f"this.{pname2}",
                                   name=M.OP_FIELD_ACCESS,
                                   method_full_name=M.OP_FIELD_ACCESS,
                                   dispatch_type=M.STATIC_DISPATCH,
                                   type_full_name=pty2, arg_index=1,
                                   line=mt.line)
                            fa.add(this_id, fld)
                            rhs = N(M.IDENTIFIER, code=pname2, name=pname2,
                                    type_full_name=pty2, line=mt.line,
                                    arg_index=2)
                            asg = N(M.CALL, code=f"this.{pname2} = {pname2}",
                                    name=M.OP_ASSIGNMENT,
                                    method_full_name=M.OP_ASSIGNMENT,
                                    dispatch_type=M.STATIC_DISPATCH,
                                    type_full_name=pty2, line=mt.line)
                            asg.add(fa, rhs)
                            assigns.append(asg)
                        mbody.children[:0] = assigns
                    method.add(mbody)
                    method.add(N(M.METHOD_RETURN, code="RET", type_full_name=M.ANY,
                                 evaluation_strategy=M.BY_VALUE, line=mt.line))
                    self.scope_path.pop()
                    self.pop_fn_frame(mbody)
                    self.pop_scope()
                    decl.add(method)
                    if mname == M.CONSTRUCTOR:
                        ctor_node = method
                    continue
                mem_ann = ""
                if self.at(":"):  # TS field type annotation — keep the raw
                    # text as the member's declared type (XTypeRecovery
                    # resolves it; TypeRecoveryPassTests TS-class members)
                    self.next()
                    a0 = self.peek()
                    self._skip_ts_annotation_tokens()
                    if a0 is not None and self.toks[self.pos - 1].a >= a0.a:
                        mem_ann = self.src[
                            a0.a:self.toks[self.pos - 1].b].strip()
                if self.at("="):  # class field with initializer
                    self.next()
                    # the initializer expression is evaluated inside the
                    # constructor (instance) / <clinit> (static), so nested
                    # closures and class expressions scope under it —
                    # `bar = class Bar {...}` names Bar `Foo:<init>:Bar`
                    # (CallLinkerPassTests.scala:22-39 endWith
                    # ":Foo:<init>:Bar:c")
                    self.scope_path.append(
                        M.STATIC_INIT if is_static else M.CONSTRUCTOR)
                    val = self.parse_assignment_expr()
                    self.scope_path.pop()
                    stmt_code = self.slice(mt, self.toks[self.pos - 1])
                    if self.at(";"):
                        self.next()
                    # MEMBER keeps the full declaration source; the init
                    # assignment moves into the constructor (instance) or
                    # <clinit> (static) — a.code "a = 1", "static c = true",
                    # cInitCall in clInitMethod (JsClassesAstCreationPass
                    # Tests.scala:101-157)
                    mem_code = f"static {stmt_code}" if is_static else stmt_code
                    decl.add(N(M.MEMBER, code=mem_code, name=mname,
                               type_full_name=mem_ann or M.ANY, line=mt.line,
                               ast_parent_type=M.TYPE_DECL,
                               ast_parent_full_name=full))
                    tgt = N(M.IDENTIFIER, code=mname, name=mname,
                            line=mt.line, type_full_name=M.ANY, arg_index=1)
                    val.arg_index = 2
                    asg = N(M.CALL, code=mem_code if is_static else stmt_code,
                            name=M.OP_ASSIGNMENT,
                            method_full_name=M.OP_ASSIGNMENT,
                            dispatch_type=M.STATIC_DISPATCH, line=mt.line)
                    asg.add(tgt, val)
                    (static_inits if is_static else field_inits).append(asg)
                    continue
                decl.add(N(M.MEMBER,
                           code=f"static {mname}" if is_static else mname,
                           name=mname, type_full_name=mem_ann or M.ANY,
                           line=mt.line, ast_parent_type=M.TYPE_DECL,
                           ast_parent_full_name=full))
                if self.at(";"):
                    self.next()
                continue
            self.next()
        if self.at("}"):
            self.next()
        if not saw_ctor:
            # every class gets a (fake when unwritten) constructor named
            # <init>, code "constructor() {}", listed FIRST among the
            # class's methods (createFakeConstructor,
            # AstForTypesCreator.scala:172-176;
            # JsClassesAstCreationPassTests.scala:73-76, 89-92)
            cf = f"{full}:{M.CONSTRUCTOR}"
            ctor = N(M.METHOD, code="constructor() {}", name=M.CONSTRUCTOR,
                     full_name=cf, signature="", line=kw.line,
                     ast_parent_type=M.TYPE_DECL, ast_parent_full_name=full)
            ctor.add(N(M.BLOCK, code="", line=kw.line, type_full_name=M.ANY))
            ctor.add(N(M.METHOD_RETURN, code="RET", type_full_name=M.ANY,
                       evaluation_strategy=M.BY_VALUE, line=kw.line))
            decl.children.insert(0, ctor)
            ctor_node = ctor
        if field_inits and ctor_node is not None:
            body = next((c for c in ctor_node.children if c.kind == M.BLOCK),
                        None)
            if body is not None:
                body.children[:0] = field_inits
        if static_inits:
            # StaticInitMethodName <clinit> collects static-field inits and
            # static {} blocks (astsForClass staticInitMethod,
            # AstForTypesCreator.scala; JsClassesAstCreationPassTests
            # :144-147 clInitMethod.block.assignment)
            clf = f"{full}:<clinit>"
            cl = N(M.METHOD, code="<clinit>", name="<clinit>",
                   full_name=clf, signature="", line=kw.line,
                   ast_parent_type=M.TYPE_DECL, ast_parent_full_name=full)
            if clinit_this is not None:
                cl.add(clinit_this)
            blk = N(M.BLOCK, code="", line=kw.line, type_full_name=M.ANY)
            blk.add(*static_inits)
            cl.add(blk)
            cl.add(N(M.METHOD_RETURN, code="RET", type_full_name=M.ANY,
                     evaluation_strategy=M.BY_VALUE, line=kw.line))
            decl.add(cl)
        if ctor_node is not None:
            # dynamically declared members: single-level `this.X = ...` in
            # the constructor registers MEMBER X (astForAssignment member
            # registration; e/f asserted at :119-136, chained this.f.g
            # excluded)
            have = {c.name for c in decl.children if c.kind == M.MEMBER}

            def scan(n: N) -> None:
                if n.kind == M.CALL and n.name == M.OP_ASSIGNMENT:
                    t = next((c for c in n.children if c.arg_index == 1),
                             None)
                    if t is not None and t.kind == M.CALL \
                            and t.name == M.OP_FIELD_ACCESS \
                            and len(t.children) == 2 \
                            and t.children[0].kind == M.IDENTIFIER \
                            and t.children[0].name == "this" \
                            and t.children[1].kind == M.FIELD_IDENTIFIER:
                        fname = t.children[1].canonical_name
                        if fname and fname not in have:
                            have.add(fname)
                            decl.add(N(
                                M.MEMBER, code=n.code, name=fname,
                                type_full_name=M.ANY, line=n.line,
                                ast_parent_type=M.TYPE_DECL,
                                ast_parent_full_name=full))
                for c in n.children:
                    if c.kind != M.METHOD:
                        scan(c)

            scan(ctor_node)
        self.scope_path.pop()
        self.ns.pop()
        return decl

    def class_constructor_full_name(self, decl: N) -> str:
        return f"{decl.full_name}:{M.CONSTRUCTOR}"

    def parse_expression_no_assign_simple(self) -> str:
        parts = [self.next().v]
        while self.at("."):
            self.next()
            parts.append(self.next().v)
        return ".".join(parts)

    # ---------------- expressions ----------------
    PRECEDENCE = dict(CParser.PRECEDENCE)
    PRECEDENCE.update({"===": 9, "!==": 9, "**": 14, "??": 4, "in": 10,
                       "instanceof": 10})

    def parse_unary(self) -> N:
        t = self.peek()
        if t is None:
            raise ParseError("EOF in expression")
        v = t.v
        if v == "function" or (v == "async" and self.at("function", 1)):
            if v == "async":
                self.next()
            return self.parse_function(statement=False)
        if v == "class":
            # a class EXPRESSION evaluates to a TYPE_REF CFG node with code
            # "class <name>" (astForClass typeRefNode,
            # AstForTypesCreator.scala:478; JsClassesCfgCreationPassTests
            # "methods in class type decls with assignment" succOf("a") ->
            # "class ClassA"); the TYPE_DECL rides along as its AST child
            cls = self.parse_js_class()
            ref = N(M.TYPE_REF, code=cls.code, type_full_name=cls.full_name,
                    line=cls.line)
            ref.add(cls)
            return ref
        # async arrow / async function expression: `async` is not a
        # reserved word — only treat it as a modifier when an arrow or
        # function actually follows
        if v == "async" and t.t in ("id", "kw"):
            nxt = self.peek(1)
            if nxt is not None and nxt.v == "function":
                self.next()
                return self.parse_function(statement=False)
            if nxt is not None and nxt.t == "id" \
                    and self.peek(2) is not None and self.peek(2).v == "=>":
                self.next()
                return self.parse_arrow(t)
            if nxt is not None and nxt.v == "(":
                depth = 0
                k = self.pos + 1
                while k < len(self.toks):
                    vv = self.toks[k].v
                    if vv == "(":
                        depth += 1
                    elif vv == ")":
                        depth -= 1
                        if depth == 0:
                            break
                    k += 1
                if k + 1 < len(self.toks) and self.toks[k + 1].v == "=>":
                    self.next()
                    return self.parse_arrow(t)
        # arrow detection: ( ... ) =>   |   ident =>
        if v == "(":
            depth = 0
            k = self.pos
            while k < len(self.toks):
                vv = self.toks[k].v
                if vv == "(":
                    depth += 1
                elif vv == ")":
                    depth -= 1
                    if depth == 0:
                        break
                k += 1
            if k + 1 < len(self.toks) and self.toks[k + 1].v == "=>":
                return self.parse_arrow(t)
        elif t.t == "id" and self.at("=>", 1):
            return self.parse_arrow(t)
        if v == "new":
            # `new X(...)` lowers to a BLOCK: `_tmp_k = .alloc`; constructor
            # call (receiver = callee, base = _tmp_k); `_tmp_k` — exactly
            # jssrc2cpg astForNewExpression (AstForExpressionsCreator.scala:
            # 117-145; CFG per JsClassesCfgCreationPassTests.scala:12-42)
            op_tok = self.next()
            callee = self.parse_postfix_callee()
            args: list[N] = []
            if self.at("("):
                self.next()
                while not self.at(")"):
                    args.append(self.parse_assignment_expr())
                    if self.at(","):
                        self.next()
                self.next()
            end = self.toks[self.pos - 1]
            raw = self.slice(op_tok, end)
            tmp = self._fresh_tmp(op_tok.line)
            loc = N(M.LOCAL, code=tmp, name=tmp, type_full_name=M.ANY,
                    line=op_tok.line)
            tmp1 = N(M.IDENTIFIER, code=tmp, name=tmp, line=op_tok.line,
                     type_full_name=M.ANY, arg_index=1)
            tmp1.ref_target = loc
            alloc = N(M.CALL, code=".alloc", name=M.OP_ALLOC,
                      method_full_name=M.OP_ALLOC,
                      dispatch_type=M.STATIC_DISPATCH, line=op_tok.line,
                      arg_index=2)
            assign = N(M.CALL, code=f"{tmp} = .alloc", name=M.OP_ASSIGNMENT,
                       method_full_name=M.OP_ASSIGNMENT,
                       dispatch_type=M.STATIC_DISPATCH, line=op_tok.line)
            assign.add(tmp1, alloc)
            ctor = N(M.CALL, code=raw, name=M.OP_NEW,
                     method_full_name=M.OP_NEW,
                     dispatch_type=M.DYNAMIC_DISPATCH, line=op_tok.line)
            callee.role = M.ROLE_RECEIVER
            callee.arg_index = -1
            ctor.add(callee)
            base = N(M.IDENTIFIER, code=tmp, name=tmp, line=op_tok.line,
                     type_full_name=M.ANY, arg_index=0)
            base.ref_target = loc
            ctor.add(base)
            for i, a in enumerate(args, start=1):
                a.arg_index = i
                ctor.add(a)
            ret_id = N(M.IDENTIFIER, code=tmp, name=tmp, line=op_tok.line,
                       type_full_name=M.ANY)
            ret_id.ref_target = loc
            block = N(M.BLOCK, code=raw, type_full_name=M.ANY, line=op_tok.line)
            block.add(loc, assign, ctor, ret_id)
            # member/call chains on the new-expression value —
            # `new this.bar().c()` is a MemberExpression over the lowered
            # block (CallLinkerPassTests.scala:22-39)
            return self.parse_postfix_ops(block, op_tok)
        if v == "...":
            # spread/rest in expression position → `<operator>.spread` call,
            # code `...<arg>` (AstForPrimitivesCreator
            # .astForSpreadOrRestElement:43-48)
            op_tok = self.next()
            operand = self.parse_unary()
            operand.arg_index = 1
            call = N(M.CALL, code=f"...{operand.code}", name=OP_SPREAD,
                     method_full_name=OP_SPREAD,
                     dispatch_type=M.STATIC_DISPATCH, line=op_tok.line)
            call.add(operand)
            return call
        if v in ("typeof", "void", "delete"):
            op_tok = self.next()
            operand = self.parse_unary()
            opname = {"typeof": OP_TYPEOF, "void": OP_VOID,
                      "delete": M.OP_DELETE}[v]
            operand.arg_index = 1
            call = N(M.CALL, code=f"{v} {operand.code}", name=opname,
                     method_full_name=opname, dispatch_type=M.STATIC_DISPATCH,
                     line=op_tok.line)
            call.add(operand)
            return call
        if v == "await":
            # `<operator>.await` call (AstForExpressionsCreator.scala:331-334)
            op_tok = self.next()
            operand = self.parse_unary()
            operand.arg_index = 1
            call = N(M.CALL, code=f"await {operand.code}",
                     name="<operator>.await", method_full_name="<operator>.await",
                     dispatch_type=M.STATIC_DISPATCH, line=op_tok.line)
            call.add(operand)
            return call
        if v == "...":
            op_tok = self.next()
            operand = self.parse_unary()
            operand.arg_index = 1
            call = N(M.CALL, code=f"...{operand.code}", name=OP_SPREAD,
                     method_full_name=OP_SPREAD, dispatch_type=M.STATIC_DISPATCH,
                     line=op_tok.line)
            call.add(operand)
            return call
        if v in ("{", "[") and self._pattern_assign_ahead():
            # destructuring assignment in EXPRESSION position (call
            # argument `foo({a, b} = x)`): same block lowering, value is
            # the tmp identifier (MixedAstCreationPassTests "object
            # destruction assignment in call argument":835-865)
            pat_start = self.peek()
            is_array = v == "["
            elems = self.parse_destructure_elements(is_array)
            self.expect("=")
            rhs_start = self.pos
            self._skip_assignment_expr_tokens()
            rhs_raw = self.slice(self.toks[rhs_start], self.toks[self.pos - 1])
            code_str = self.slice(pat_start, self.toks[self.pos - 1])
            return self.lower_destructure_stmt(
                elems, rhs_raw, code_str, pat_start.line, is_array)
        if v == "{":
            return self.parse_postfix_ops(self.parse_object_literal(), t)
        if v == "[":
            return self.parse_postfix_ops(self.parse_array_literal(), t)
        return super().parse_unary()

    def _pattern_assign_ahead(self) -> bool:
        """Cursor on `{`/`[` in expression position — true iff the bracketed
        group is immediately followed by `=` (destructuring assignment)."""
        opener = self.peek().v
        closer = "}" if opener == "{" else "]"
        k, depth = self.pos, 0
        while k < len(self.toks):
            tv = self.toks[k].v
            if tv == opener:
                depth += 1
            elif tv == closer:
                depth -= 1
                if depth == 0:
                    return (k + 1 < len(self.toks)
                            and self.toks[k + 1].v == "=")
            k += 1
        return False

    def parse_postfix_callee(self) -> N:
        """Parse a new-expression callee without consuming the ( args )."""
        t = self.next()
        node = N(M.IDENTIFIER, code=t.v, name=t.v, line=t.line, type_full_name=M.ANY)
        decl = self.lookup(t.v)
        if decl is not None:
            node.ref_target = decl  # `new A()` refs/captures the class local
        else:
            self.on_unresolved_identifier(node)
        while self.at("."):
            self.next()
            fld = self.next()
            f = N(M.FIELD_IDENTIFIER, code=fld.v, name=fld.v, canonical_name=fld.v,
                  line=fld.line, arg_index=2)
            node.arg_index = 1
            call = N(M.CALL, code=f"{node.code}.{fld.v}", name=M.OP_FIELD_ACCESS,
                     method_full_name=M.OP_FIELD_ACCESS,
                     dispatch_type=M.STATIC_DISPATCH, line=fld.line)
            call.add(node, f)
            node = call
        return node

    def parse_object_literal(self) -> N:
        """jssrc2cpg object-literal lowering (astForObjectExpression): a
        BLOCK (code = the raw literal) holding LOCAL `_tmp_k`, then one
        `_tmp_k.<key> = <value>` assignment per property (fieldAccess over
        the tmp — SimpleCfgCreationPassTests.scala:166-192), `...rest`
        spreads as `<operator>.spread(_tmp_k, rest)` (SimpleAstCreationPass
        Tests.scala:440-464), and the tmp identifier as the block value."""
        open_tok = self.next()
        block = N(M.BLOCK, code="{...}", line=open_tok.line, type_full_name=M.ANY)
        tmp = self._fresh_tmp(open_tok.line)
        loc = N(M.LOCAL, code=tmp, name=tmp, type_full_name=M.ANY,
                line=open_tok.line)
        block.add(loc)

        def tmp_ident(line: int, arg_index: int = -1) -> N:
            n = N(M.IDENTIFIER, code=tmp, name=tmp, line=line,
                  type_full_name=M.ANY, arg_index=arg_index)
            n.ref_target = loc
            return n

        def key_assign(key_name: str, val: N, line: int) -> N:
            fld = N(M.FIELD_IDENTIFIER, code=key_name, name=key_name,
                    canonical_name=key_name, line=line, arg_index=2)
            fa = N(M.CALL, code=f"{tmp}.{key_name}", name=M.OP_FIELD_ACCESS,
                   method_full_name=M.OP_FIELD_ACCESS,
                   dispatch_type=M.STATIC_DISPATCH, line=line, arg_index=1)
            fa.add(tmp_ident(line, 1), fld)
            val.arg_index = 2
            asg = N(M.CALL, code=f"{tmp}.{key_name} = {val.code}",
                    name=M.OP_ASSIGNMENT, method_full_name=M.OP_ASSIGNMENT,
                    dispatch_type=M.STATIC_DISPATCH, line=line)
            asg.add(fa, val)
            return asg

        def index_assign(key_code: str, kexpr: N, val: N, line: int) -> N:
            # computed key: `_tmp_k[<key>] = <value>` over indexAccess
            # (checkObjectInitializationIndex, SimpleAstCreationPassTests
            # .scala:1799-1820)
            kexpr.arg_index = 2
            ia = N(M.CALL, code=f"{tmp}[{key_code}]", name=M.OP_INDEX_ACCESS,
                   method_full_name=M.OP_INDEX_ACCESS,
                   dispatch_type=M.STATIC_DISPATCH, line=line, arg_index=1)
            ia.add(tmp_ident(line, 1), kexpr)
            val.arg_index = 2
            asg = N(M.CALL, code=f"{tmp}[{key_code}] = {val.code}",
                    name=M.OP_ASSIGNMENT, method_full_name=M.OP_ASSIGNMENT,
                    dispatch_type=M.STATIC_DISPATCH, line=line)
            asg.add(ia, val)
            return asg

        while self.peek() is not None and not self.at("}"):
            if self.at(","):
                self.next()
                continue
            if self.at("..."):
                sp_tok = self.next()
                rest = self.parse_assignment_expr()
                rest.arg_index = 2
                sp = N(M.CALL, code=f"...{rest.code}", name=OP_SPREAD,
                       method_full_name=OP_SPREAD,
                       dispatch_type=M.STATIC_DISPATCH, line=sp_tok.line)
                sp.add(tmp_ident(sp_tok.line, 1), rest)
                block.add(sp)
                continue
            if self.at("["):
                # computed property name `[expr]: value` / computed object
                # method `["name"](){}` -> `_computed_object_method_<n>`
                # (SimpleAstCreationPassTests.scala:540-585)
                lb = self.next()
                kexpr = self.parse_expression()
                rb = self.expect("]")
                key_code = self.src[lb.b:rb.a].strip()
                if self.at("("):
                    n = getattr(self, "_computed_method_counter", 0)
                    self._computed_method_counter = n + 1
                    mname = f"_computed_object_method_{n}"
                    ref = self._object_method(mname, lb.line)
                    block.add(index_assign(key_code, kexpr, ref, lb.line))
                elif self.at(":"):
                    self.next()
                    val = self.parse_assignment_expr()
                    block.add(index_assign(key_code, kexpr, val, lb.line))
                continue
            key = self.next()
            if self.at("("):  # method shorthand
                name = key.v.strip("'\"")
                ref = self._object_method(name, key.line)
                block.add(key_assign(name, ref, key.line))
                continue
            if self.at(":"):
                self.next()
                val = self.parse_assignment_expr()
                block.add(key_assign(key.v.strip("'\""), val, key.line))
            elif key.t == "id":
                # shorthand property `{ a }` ≡ `{ a: a }`
                ident = N(M.IDENTIFIER, code=key.v, name=key.v, line=key.line,
                          type_full_name=M.ANY)
                decl = self.lookup(key.v)
                if decl is not None:
                    ident.ref_target = decl
                block.add(key_assign(key.v, ident, key.line))
            if self.at("["):  # computed key — skip
                self.skip_balanced("[", "]")
        close = self.toks[self.pos] if self.at("}") else self.toks[self.pos - 1]
        if self.at("}"):
            self.next()
        block.code = self.slice(open_tok, close)
        block.add(tmp_ident(open_tok.line))
        return block

    def _object_method(self, name: str, line: int) -> N:
        """Object-literal method shorthand: a METHOD under :program scope
        (like a lambda) returned as a METHOD_REF whose code is the method
        name — reference inits the property with a ref to it."""
        self.lambda_counter += 1
        full = self.fullname(name)
        method = N(M.METHOD, code=name, name=name, full_name=full,
                   signature="", line=line, ast_parent_type=M.METHOD,
                   ast_parent_full_name=f"{self.path}:{M.PROGRAM_METHOD}")
        self.push_scope()
        self.push_fn_frame()
        self.scope_path.append(name)
        tp = self._this_param(line)
        method.add(tp)
        self.declare("this", tp)
        self.next()  # '('
        i = 0
        while self.peek() is not None and not self.at(")"):
            pn = self.next()  # always advance — garbage tokens skip
            if pn.t in ("id", "kw"):
                i += 1
                p = N(M.METHOD_PARAMETER_IN, code=pn.v, name=pn.v,
                      param_index=i, type_full_name=M.ANY, line=pn.line,
                      evaluation_strategy=M.BY_SHARING)
                method.add(p)
                self.declare(pn.v, p)
                if self.at(":"):  # TS param type annotation
                    self.next()
                    self._skip_ts_annotation_tokens()
        self.expect(")")
        obody = self.parse_compound()
        method.add(obody)
        method.add(N(M.METHOD_RETURN, code="RET", type_full_name=M.ANY,
                     evaluation_strategy=M.BY_VALUE, line=line))
        self.scope_path.pop()
        self.pop_fn_frame(obody)
        self.pop_scope()
        ref = N(M.METHOD_REF, code=name, method_full_name=full, line=line)
        ref.add(method)
        return ref

    def parse_array_literal(self) -> N:
        """jssrc2cpg array-literal lowering (AstForExpressionsCreator
        .astForArrayExpression:337-404): `[]` is a bare
        `__ecma.Array.factory()` call; `[a, b]` is a BLOCK (code = the raw
        literal) of `_tmp_k = __ecma.Array.factory()` then one
        `_tmp_k.push(<el>)` dynamic call per element (receiver fieldAccess
        + base identifier, the ECMAScript call shape), returning _tmp_k."""
        open_tok = self.next()
        elements: list[N] = []
        while self.peek() is not None and not self.at("]"):
            if self.at(","):
                self.next()
                continue
            elements.append(self.parse_assignment_expr())
        close = self.toks[self.pos] if self.at("]") else self.toks[self.pos - 1]
        if self.at("]"):
            self.next()
        raw = self.slice(open_tok, close)
        return self._array_block(elements, raw, open_tok.line)

    def _array_block(self, elements: list[N], raw: str, line: int) -> N:
        """Element nodes -> the `_tmp_k = factory(); _tmp_k.push(el)...`
        value block (code = ``raw``); empty -> bare factory call."""
        def factory_call() -> N:
            return N(M.CALL, code=f"{ECMA_ARRAY_FACTORY}()",
                     name=ECMA_ARRAY_FACTORY,
                     method_full_name=ECMA_ARRAY_FACTORY,
                     dispatch_type=M.STATIC_DISPATCH, line=line)

        if not elements:
            return factory_call()
        tmp = self._fresh_tmp(line)
        loc = N(M.LOCAL, code=tmp, name=tmp, type_full_name=M.ANY, line=line)
        tmp_id = N(M.IDENTIFIER, code=tmp, name=tmp, line=line,
                   type_full_name=M.ANY, arg_index=1)
        tmp_id.ref_target = loc
        fac = factory_call()
        fac.arg_index = 2
        assign = N(M.CALL, code=f"{tmp} = {ECMA_ARRAY_FACTORY}()",
                   name=M.OP_ASSIGNMENT, method_full_name=M.OP_ASSIGNMENT,
                   dispatch_type=M.STATIC_DISPATCH, line=line)
        assign.add(tmp_id, fac)
        block = N(M.BLOCK, code=raw, type_full_name=M.ANY, line=line)
        block.add(loc, assign)
        for el in elements:
            fa_base = N(M.IDENTIFIER, code=tmp, name=tmp, line=el.line,
                        type_full_name=M.ANY, arg_index=1)
            fa_base.ref_target = loc
            fld = N(M.FIELD_IDENTIFIER, code="push", name="push",
                    canonical_name="push", line=el.line, arg_index=2)
            fa = N(M.CALL, code=f"{tmp}.push", name=M.OP_FIELD_ACCESS,
                   method_full_name=M.OP_FIELD_ACCESS,
                   dispatch_type=M.STATIC_DISPATCH, line=el.line,
                   role=M.ROLE_RECEIVER)
            fa.add(fa_base, fld)
            base = N(M.IDENTIFIER, code=tmp, name=tmp, line=el.line,
                     type_full_name=M.ANY, arg_index=0)
            base.ref_target = loc
            el.arg_index = 1
            push = N(M.CALL, code=f"{tmp}.push({el.code})", name="",
                     method_full_name=M.UNKNOWN_FULL_NAME,
                     dispatch_type=M.DYNAMIC_DISPATCH, line=el.line)
            push.add(fa, base, el)
            block.add(push)
        ret_id = N(M.IDENTIFIER, code=tmp, name=tmp, line=line,
                   type_full_name=M.ANY)
        ret_id.ref_target = loc
        block.add(ret_id)
        return block

    def parse_postfix(self) -> N:
        t = self.peek()
        if t is not None and t.t == "kw" and t.v in ("null", "undefined"):
            self.next()
            # astForNullLiteral types `null` as __ecma.Null
            # (AstForPrimitivesCreator.scala:32-33)
            ty = "__ecma.Null" if t.v == "null" else M.ANY
            node = N(M.LITERAL, code=t.v, line=t.line, type_full_name=ty)
            return self.parse_postfix_ops(node, t)
        if t is not None and t.t == "str" and t.v.startswith("`"):
            self.next()
            node = self._template_literal(t)
            return self.parse_postfix_ops(node, t)
        return super().parse_postfix()

    def make_literal(self, t: Tok) -> N | None:
        """JS literal typing — Defines.Number/String/Boolean
        (AstForPrimitivesCreator.scala:55-60, astForBooleanLiteral). String
        literal CODE is re-rendered double-quoted around the *cooked*
        (unescaped) value, exactly like astForStringLiteral:36-39
        (`s"\\"${json value}\\""`; SimpleAstCreationPassTests
        "inner text for string literals" / "different string literals")."""
        if t.t == "num":
            return N(M.LITERAL, code=t.v, line=t.line,
                     type_full_name="__ecma.Number")
        if t.t == "str":
            return N(M.LITERAL, code=f'"{_js_cooked(t.v[1:-1])}"',
                     line=t.line, type_full_name="__ecma.String")
        if t.v in ("true", "false"):
            return N(M.LITERAL, code=t.v, line=t.line,
                     type_full_name="__ecma.Boolean")
        return None

    def parse_postfix_ops(self, node: N, start: Tok) -> N:
        while True:
            node = super().parse_postfix_ops(node, start)
            t = self.peek()
            # TS non-null assertion `expr!` -> <operator>.notNullAssert
            # (AstForExpressionsCreator.astForTSNonNullExpression:220-225).
            # A lone `!` after a complete expression is unambiguous: infix
            # `!=`/`!==` are single tokens.
            if t is not None and t.v == "!":
                bang = self.next()
                node.arg_index = 1
                call = N(M.CALL, code=self.slice(start, bang),
                         name=M.OP_NOT_NULL_ASSERT,
                         method_full_name=M.OP_NOT_NULL_ASSERT,
                         dispatch_type=M.STATIC_DISPATCH, line=start.line)
                call.add(node)
                node = call
                continue
            return node

    def try_as_cast(self, node: N, start: Tok) -> N | None:
        """TS `expr as Type` -> <operator>.cast with the type name at
        argument 1 and the expression at argument 2; the cast evaluates to
        the mapped builtin type (TSTypesTests "have correct types for
        casts": x -> __ecma.String)."""
        t = self.peek()
        if t is None or t.v != "as" or self.peek(1) is None \
                or self.peek(1).t not in ("id", "kw"):
            return None
        self.next()
        ty_tok = self.next()
        ty_raw = ty_tok.v
        mapped = TS_PRIMS.get(ty_raw, M.ANY)
        if mapped == M.ANY and node.type_full_name \
                and node.type_full_name != M.ANY:
            # unknown target type: the cast keeps the operand's type
            # (`1 as int` evaluates __ecma.Number)
            mapped = node.type_full_name
        tref = N(M.IDENTIFIER, code=ty_raw, name=ty_raw,
                 type_full_name=mapped, line=ty_tok.line, arg_index=1)
        node.arg_index = 2
        call = N(M.CALL, code=self.slice(start, ty_tok), name=M.OP_CAST,
                 method_full_name=M.OP_CAST,
                 dispatch_type=M.STATIC_DISPATCH, line=start.line,
                 type_full_name=mapped)
        call.add(tref, node)
        return call

    def try_tagged_template(self, node: N, start: Tok) -> N | None:
        r"""`String.raw\`../${42}\\..\`` -> a DYNAMIC call (code = the whole
        tagged source) with the tag as receiver/base and arguments
        [quasi-array block (code = the template source), ...interpolations]
        (jssrc astForTemplateExpression;
        SimpleCfgCreationPassTests.scala:93-121)."""
        t = self.peek()
        if t is None or t.t != "str" or not t.v.startswith("`"):
            return None
        is_field = node.kind == M.CALL and node.name == M.OP_FIELD_ACCESS
        if node.kind != M.IDENTIFIER and not is_field:
            return None
        tpl = self.next()
        quasis, exprs, tail = self._split_template(tpl.v[1:-1])
        line = tpl.line

        def quasi_node(q: str) -> N:
            return N(M.LITERAL, code=f'"{q}"', line=line,
                     type_full_name="__ecma.String")

        arr = self._array_block([quasi_node(q) for q in quasis + [tail]],
                                tpl.v, line)
        arr.arg_index = 1
        if is_field:
            fname = node.children[1].name if len(node.children) > 1 else ""
            base_src = node.children[0]
            base = N(M.IDENTIFIER, code=base_src.code, name=base_src.name,
                     line=line, type_full_name=M.ANY, arg_index=0)
            base.ref_target = getattr(base_src, "ref_target", None)
        else:
            fname = node.name
            base = self._this_node(line)
            base.arg_index = 0
        node.role = M.ROLE_RECEIVER
        node.arg_index = -1
        call = N(M.CALL, code=f"{self.slice(start, tpl)}", name=fname,
                 method_full_name=M.UNKNOWN_FULL_NAME,
                 dispatch_type=M.DYNAMIC_DISPATCH, line=line,
                 type_full_name=M.ANY)
        call.add(node, base, arr)
        for k, ex in enumerate(exprs, start=2):
            try:
                en = self._parse_sub_expression(ex, line)
            except Exception:
                en = N(M.UNKNOWN, code=ex, line=line)
            en.arg_index = k
            call.add(en)
        return call

    @staticmethod
    def _split_template(body: str) -> tuple[list[str], list[str], str]:
        """Template body -> (quasis before each `${}`, expression sources,
        tail quasi); backslash escapes pass through verbatim."""
        quasis: list[str] = []
        exprs: list[str] = []
        cur: list[str] = []
        i = 0
        while i < len(body):
            c = body[i]
            if c == "\\" and i + 1 < len(body):
                cur.append(body[i:i + 2])
                i += 2
                continue
            if c == "$" and i + 1 < len(body) and body[i + 1] == "{":
                j = i + 2
                depth = 1
                while j < len(body) and depth:
                    if body[j] == "{":
                        depth += 1
                    elif body[j] == "}":
                        depth -= 1
                    j += 1
                quasis.append("".join(cur))
                cur = []
                exprs.append(body[i + 2:j - 1])
                i = j
                continue
            cur.append(c)
            i += 1
        return quasis, exprs, "".join(cur)

    def _template_literal(self, t: Tok) -> N:
        """Untagged template literal. With interpolations it lowers to
        `<operator>.formatString("q0", e0, "q1", ..., "tail")` — quasis
        double-quoted, expressions interleaved, tail quasi last, call code
        spelling out the lowered argument list (jssrc2cpg
        AstForPrimitivesCreator.astForTemplateLiteral:74-96). Without
        interpolations it stays a single string LITERAL (:78-80)."""
        quasis, exprs, tail = self._split_template(t.v[1:-1])
        if not exprs:
            # plain template -> string LITERAL; CODE is the double-quoted
            # cooked value like every other string literal
            # (SimpleAstCreationPassTests "different string literals")
            return N(M.LITERAL, code=f'"{_js_cooked(t.v[1:-1])}"',
                     line=t.line, type_full_name="__ecma.String")
        try:
            arg_nodes: list[N] = []
            codes: list[str] = []

            def quasi_node(q: str) -> N:
                qc = f'"{q}"'
                codes.append(qc)
                return N(M.LITERAL, code=qc, line=t.line,
                         type_full_name="__ecma.String")

            for q, ex in zip(quasis, exprs):
                arg_nodes.append(quasi_node(q))
                en = self._parse_sub_expression(ex, t.line)
                codes.append(en.code)
                arg_nodes.append(en)
            arg_nodes.append(quasi_node(tail))
            call = N(M.CALL, code=f"{M.OP_FORMAT_STRING}({', '.join(codes)})",
                     name=M.OP_FORMAT_STRING,
                     method_full_name=M.OP_FORMAT_STRING,
                     dispatch_type=M.STATIC_DISPATCH, line=t.line,
                     type_full_name="__ecma.String")
            for k, a in enumerate(arg_nodes, start=1):
                a.arg_index = k
                call.add(a)
            return call
        except Exception:
            return N(M.LITERAL, code=t.v, line=t.line,
                     type_full_name="__ecma.String")

    def _lower_default_params(self, body: N, defaults: list[tuple[str, str]],
                              line: int) -> None:
        """Default parameter values lower to body-front assignments
        `p = p === void 0 ? <default> : p` (jssrc2cpg's Babel-style
        desugaring, MixedAstCreationPassTests.scala:1252-1347) — built by
        re-parsing the spelled-out lowering so codes/operators/REFs match
        the hand-written equivalent exactly."""
        for pname, dcode in reversed(defaults):
            try:
                stmt = self._parse_sub_expression(
                    f"{pname} = {pname} === void 0 ? {dcode} : {pname}", line)
            except Exception:
                continue
            self._strip_void_arg(stmt)
            body.children.insert(0, stmt)

    def _strip_void_arg(self, n: N) -> None:
        # the reference's synthetic `void 0` test call has NO literal
        # child (succOf(param) goes straight to "void 0",
        # MixedCfgCreationPassTests.scala:458-459)
        if n.kind == M.CALL and n.code == "void 0":
            n.children = []
        for c in n.children:
            self._strip_void_arg(c)

    # -- destructuring patterns (MixedCfgCreationPassTests.scala:14-423;
    # jssrc2cpg astForDeconstruction in AstCreator: a BLOCK holding
    # `_tmp_k = <rhs>`, one `<target> = _tmp_k.<key>` / `_tmp_k[<i>]`
    # assignment per element (with `=== void 0 ?:` default guards), spread
    # rests, and the tmp identifier as the block value; destructured
    # PARAMETERS bind `param<i>_0` and prepend plain assignments).

    def _paren_destructure_ahead(self) -> bool:
        """Cursor on `(` — true iff the parenthesized expression is a
        destructuring pattern assignment `({...} = rhs)` / `([...] = rhs)`."""
        k = self.pos + 1
        if k >= len(self.toks) or self.toks[k].v not in ("{", "["):
            return False
        opener = self.toks[k].v
        closer = "}" if opener == "{" else "]"
        depth = 0
        while k < len(self.toks):
            tv = self.toks[k].v
            if tv == opener:
                depth += 1
            elif tv == closer:
                depth -= 1
                if depth == 0:
                    return (k + 1 < len(self.toks)
                            and self.toks[k + 1].v == "=")
            k += 1
        return False

    def parse_destructure_elements(self, is_array: bool) -> list[dict]:
        """Cursor on `{`/`[`; consumes through the closer. Array holes
        advance the element index without emitting an element."""
        self.next()
        closer = "]" if is_array else "}"
        elems: list[dict] = []
        idx = 0
        while self.peek() is not None and not self.at(closer):
            if self.at(","):
                self.next()
                idx += 1
                continue
            if self.at("..."):
                self.next()
                t = self.next()
                elems.append({"rest": t.v, "index": idx, "line": t.line})
                continue
            if not is_array and self.at("["):
                self.next()
                key_start = self.pos
                self.parse_assignment_expr()
                key = self.slice(self.toks[key_start], self.toks[self.pos - 1])
                self.expect("]")
                self.expect(":")
                tgt = self.next()
                elem = {"key": key, "target": tgt.v, "line": tgt.line}
            elif is_array:
                tgt = self.next()
                elem = {"index": idx, "target": tgt.v, "line": tgt.line}
            else:
                key_tok = self.next()
                if self.at(":"):
                    self.next()
                    tgt = self.next()
                    elem = {"key": key_tok.v, "target": tgt.v, "line": tgt.line}
                else:
                    elem = {"key": key_tok.v, "target": key_tok.v,
                            "line": key_tok.line}
            if self.at("="):
                self.next()
                start = self.pos
                # advance only (counters restored); re-parsed at lowering
                self._skip_assignment_expr_tokens()
                elem["default"] = self.slice(self.toks[start],
                                             self.toks[self.pos - 1])
            elems.append(elem)
        self.expect(closer)
        return elems

    def _destructure_stmts(self, elems: list[dict], src_name: str,
                           line: int, out: list[N], is_array: bool,
                           locmap: dict[str, "N"] | None = None,
                           param_mode: bool = False) -> None:
        """Append per-element lowered assignments reading from `src_name`.
        ``locmap`` supplies pre-declared LOCAL nodes (parameter patterns
        declare them before the body parses so body identifiers resolve).
        ``param_mode``: parameter-pattern rest elements lower to a plain
        `rest = param1_0.rest` assignment, not <operator>.spread
        (handleRestInParameters, AstForFunctionsCreator.scala:19-39)."""
        locmap = locmap or {}
        if param_mode:
            elems = [dict(e, target=e["rest"], key=e["rest"])
                     if "rest" in e else e for e in elems]
            for e in elems:
                e.pop("rest", None)

        def target_local(name: str, eline: int) -> N:
            if name in locmap:
                return locmap[name]
            loc = N(M.LOCAL, code=name, name=name, type_full_name=M.ANY,
                    line=eline)
            # destructure elements are MethodScope in the reference
            # (convertDestructingObjectElement, AstForDeclarations
            # Creator.scala:638) — hoist like `var`
            self.declare_var(name, loc)
            return loc

        for e in elems:
            eline = e.get("line", line)
            if "rest" in e:
                out.append(target_local(e["rest"], eline))
                # object rest spreads the tmp itself; array rest spreads the
                # index access at the rest position (succOf "...rest" chains,
                # MixedCfgCreationPassTests.scala:140-159, 371-392)
                base_src = (f"{src_name}[{e['index']}]" if is_array
                            else src_name)
                first = self._parse_sub_expression(base_src, eline)
                first.arg_index = 1
                rest_id = self._parse_sub_expression(e["rest"], eline)
                rest_id.arg_index = 2
                sp = N(M.CALL, code=f"...{e['rest']}", name=OP_SPREAD,
                       method_full_name=OP_SPREAD,
                       dispatch_type=M.STATIC_DISPATCH, line=eline)
                sp.add(first, rest_id)
                out.append(sp)
                continue
            acc = (f"{src_name}.{e['key']}" if "key" in e
                   else f"{src_name}[{e['index']}]")
            out.append(target_local(e["target"], eline))
            if "default" in e:
                src = (f"{e['target']} = {acc} === void 0 "
                       f"? {e['default']} : {acc}")
            else:
                src = f"{e['target']} = {acc}"
            stmt = self._parse_sub_expression(src, eline)
            self._strip_void_arg(stmt)
            out.append(stmt)

    def _parse_ts_enum(self, kw: "Tok") -> list[N]:
        """TS `enum Direction { Up = 1, Down, ... }` — a TYPE_DECL (code
        `enum Direction`) with one MEMBER per enumerator (code `Up = 1` /
        `Down`) and a `<clinit>` static-init METHOD holding the
        initializer assignments (TsClassesAstCreationPassTests "have
        correct structure for simple enum")."""
        self.next()
        name_tok = self.next()
        name = name_tok.v
        full = self.fullname(name)
        decl = N(M.TYPE_DECL, code=f"enum {name}", name=name,
                 full_name=full, line=kw.line,
                 ast_parent_type=M.NAMESPACE_BLOCK,
                 ast_parent_full_name=self.global_block)
        self.declared_types.setdefault(name, full)
        self.expect("{")
        inits: list[N] = []
        while self.peek() is not None and not self.at("}"):
            if self.peek().t not in ("id", "str"):
                self.next()
                continue
            etok = self.next()
            ename = etok.v.strip("'\"")
            ecode = ename
            if self.at("="):
                self.next()
                v0 = self.peek()
                depth = 0
                while self.peek() is not None:
                    vv = self.peek().v
                    if vv in ("(", "[", "{"):
                        depth += 1
                    elif vv in (")", "]"):
                        depth -= 1
                    elif depth == 0 and vv in (",", "}"):
                        break
                    self.next()
                ecode = self.slice(etok, self.toks[self.pos - 1])
                ident = N(M.IDENTIFIER, code=ename, name=ename,
                          line=etok.line, arg_index=1)
                rhs = N(M.LITERAL,
                        code=self.slice(v0, self.toks[self.pos - 1])
                        if v0 is not None else "", line=etok.line,
                        arg_index=2)
                asg = N(M.CALL, code=ecode, name=M.OP_ASSIGNMENT,
                        method_full_name=M.OP_ASSIGNMENT,
                        dispatch_type=M.STATIC_DISPATCH, line=etok.line)
                asg.add(ident, rhs)
                inits.append(asg)
            decl.add(N(M.MEMBER, code=ecode, name=ename,
                       type_full_name=M.ANY, line=etok.line,
                       ast_parent_type=M.TYPE_DECL,
                       ast_parent_full_name=full))
            if self.at(","):
                self.next()
        if self.at("}"):
            self.next()
        if inits:
            clinit = N(M.METHOD, code=M.STATIC_INIT, name=M.STATIC_INIT,
                       full_name=f"{full}:{M.STATIC_INIT}",
                       line=kw.line, ast_parent_type=M.TYPE_DECL,
                       ast_parent_full_name=full)
            body = N(M.BLOCK, line=kw.line)
            body.add(*inits)
            clinit.add(body)
            clinit.add(N(M.METHOD_RETURN, code="RET", type_full_name=M.ANY,
                         evaluation_strategy=M.BY_VALUE, line=kw.line))
            decl.add(clinit)
        return [decl]

    def _parse_ts_interface(self, kw: "Tok") -> list[N]:
        """TS `interface Greeter { ... }` — a TYPE_DECL (code `interface
        Greeter`) with a synthetic `<init>` constructor METHOD and one
        MEMBER per property signature keeping the raw `name: type;` code
        (TsClassesAstCreationPassTests "empty interfaces" /
        "simple interfaces")."""
        self.next()
        name_tok = self.next()
        name = name_tok.v
        full = self.fullname(name)
        decl = N(M.TYPE_DECL, code=f"interface {name}", name=name,
                 full_name=full, line=kw.line,
                 ast_parent_type=M.NAMESPACE_BLOCK,
                 ast_parent_full_name=self.global_block)
        self.declared_types.setdefault(name, full)
        if self.at("extends"):
            self.next()
            sups = []
            while self.peek() is not None and not self.at("{"):
                if self.peek().t == "id":
                    sups.append(self.peek().v)
                self.next()
            if sups:
                decl.inherits_from = sups
        self.expect("{")
        depth = 1
        m_start = None
        m_name = None
        while self.peek() is not None and depth:
            tk = self.peek()
            if tk.v == "{":
                depth += 1
            elif tk.v == "}":
                depth -= 1
                if depth == 0:
                    self.next()
                    break
            elif depth == 1 and tk.v in (";", ",") :
                if m_name is not None and m_start is not None:
                    code = self.slice(m_start, tk).strip()
                    decl.add(N(M.MEMBER, code=code, name=m_name,
                               type_full_name=M.ANY, line=m_start.line,
                               ast_parent_type=M.TYPE_DECL,
                               ast_parent_full_name=full))
                m_start, m_name = None, None
            elif depth == 1 and m_start is None:
                m_start = tk
                if tk.t in ("id", "str"):
                    m_name = tk.v.strip("'\"")
            self.next()
        ctor = N(M.METHOD, code=f"new: {name}", name=M.CONSTRUCTOR,
                 full_name=f"{full}:{M.CONSTRUCTOR}", line=kw.line,
                 ast_parent_type=M.TYPE_DECL, ast_parent_full_name=full)
        ctor.add(N(M.METHOD_RETURN, code="RET", type_full_name=full,
                   evaluation_strategy=M.BY_VALUE, line=kw.line))
        decl.add(ctor)
        if self.at(";"):
            self.next()
        return [decl]

    def _parse_ts_type_alias(self, kw: "Tok") -> list[N]:
        """`type Alias = <rhs>` — a TYPE_DECL for the alias with the raw
        code; when the rhs names another declared type, THAT declaration's
        aliasTypeFullName points back at the alias (TSTypesTests "have
        correct types for type alias [from class] [declared first]"). The
        inverse direction resolves at parse end through
        `ts_alias_targets` so later-declared targets link too."""
        self.next()
        name_tok = self.next()
        self.next()  # '='
        target = None
        if self.peek() is not None and self.peek().t == "id" \
                and (self.peek(1) is None or self.peek(1).v in (";", "\n")
                     or self.peek(1).line != name_tok.line):
            target = self.peek().v
        a0 = self.peek()
        depth = 0
        prev_v = "="
        while self.peek() is not None:
            v2 = self.peek().v
            if depth == 0 and self.peek().line > name_tok.line \
                    and prev_v not in ("=", "|", "&", ",", "<", "extends"):
                break  # ASI: the alias rhs ended on the previous line
            if v2 in ("{", "(", "["):
                depth += 1
            elif v2 in ("}", ")", "]"):
                if depth == 0:
                    break
                depth -= 1
            elif depth == 0 and v2 == ";":
                break
            prev_v = v2
            self.next()
        end = self.toks[self.pos - 1] if self.pos else name_tok
        if self.at(";"):
            self.next()
        name = name_tok.v
        full = self.fullname(name)
        code = self.src[kw.a:end.b].strip()
        decl = N(M.TYPE_DECL, code=code, name=name, full_name=full,
                 line=kw.line, ast_parent_type=M.NAMESPACE_BLOCK,
                 ast_parent_full_name=self.global_block)
        self.declared_types.setdefault(name, full)
        if target:
            if not hasattr(self, "ts_alias_targets"):
                self.ts_alias_targets = {}
            self.ts_alias_targets[target] = full
        if not hasattr(self, "ts_alias_decls"):
            self.ts_alias_decls = []
        self.ts_alias_decls.append(decl)
        return [decl]

    def _function_declaration_stmt(self) -> list[N]:
        """`function foo() {}` as a STATEMENT also emits the Babel-style
        synthetic assignment `function foo = function foo() {}` — identifier
        `foo` = METHOD_REF `foo` — so the declaration participates in the
        enclosing CFG (SimpleCfgCreationPassTests.scala:240-250)."""
        start_tok = self.peek()
        m = self.parse_function(statement=True)
        if m is None:
            return []
        end_tok = self.toks[self.pos - 1]
        if not m.name or m.name.startswith(M.LAMBDA_PREFIX):
            return [m]
        fn_src = self.slice(start_tok, end_tok)
        ident = N(M.IDENTIFIER, code=m.name, name=m.name, line=m.line,
                  type_full_name=M.ANY, arg_index=1)
        decl = self.lookup(m.name)
        if decl is not None:
            ident.ref_target = decl
        ref = N(M.METHOD_REF, code=m.name, method_full_name=m.full_name,
                line=m.line, arg_index=2)
        asg = N(M.CALL, code=f"function {m.name} = {fn_src}",
                name=M.OP_ASSIGNMENT, method_full_name=M.OP_ASSIGNMENT,
                dispatch_type=M.STATIC_DISPATCH, line=m.line)
        asg.add(ident, ref)
        loc = getattr(self, "_last_fn_local", None)
        if loc is not None and loc.name == m.name:
            self._last_fn_local = None
            return [loc, m, asg]
        return [m, asg]

    def parse_comma_sequence(self, first: N, start: Tok) -> N:
        """`(e1, e2)` sequence ("block") expression -> BLOCK whose code is
        the inner source, children the expressions, value the last
        (SimpleCfgCreationPassTests.scala:12-24 — succOf("bar()") is the
        block node coded "class Foo {}, bar()")."""
        exprs = [first]
        while self.at(","):
            self.next()
            exprs.append(self.parse_assignment_expr())
        end = self.toks[self.pos - 1]
        blk = N(M.BLOCK, code=self.slice(start, end), line=start.line,
                type_full_name=M.ANY)
        blk.add(*exprs)
        return blk

    def _skip_assignment_expr_tokens(self) -> None:
        """Advance past one assignment-expression, discarding the tree and
        restoring the tmp/lambda counters (the lowering re-parses the raw
        source, which would otherwise double-allocate temporaries)."""
        saved = (self.tmp_counter, self.lambda_counter,
                 self.anon_class_counter)
        self.parse_assignment_expr()
        self.tmp_counter, self.lambda_counter, self.anon_class_counter = saved

    def lower_destructure_stmt(self, elems: list[dict], rhs_src: str,
                               code_str: str, line: int,
                               is_array: bool) -> N:
        """`var {a, b} = x` -> BLOCK(code="var {a, b} = x") holding the tmp
        local, `_tmp_k = x`, the per-element assignments, and the tmp
        identifier as block value."""
        block = N(M.BLOCK, code=code_str, line=line, type_full_name=M.ANY)
        tmp = self._fresh_tmp(line)
        loc = N(M.LOCAL, code=tmp, name=tmp, type_full_name=M.ANY, line=line)
        block.add(loc)
        self.declare(tmp, loc)
        block.add(self._parse_sub_expression(f"{tmp} = {rhs_src}", line))
        stmts: list[N] = []
        self._destructure_stmts(elems, tmp, line, stmts, is_array)
        block.add(*stmts)
        val = N(M.IDENTIFIER, code=tmp, name=tmp, line=line,
                type_full_name=M.ANY)
        val.ref_target = loc
        block.add(val)
        return block

    def _parse_sub_expression(self, src: str, line: int) -> N:
        """Parse one interpolation fragment with a sub-parser sharing this
        parser's scopes (identifiers REF-resolve against enclosing
        declarations) and temp counters."""
        sub = JsParser(src, self.path)
        sub.scopes = self.scopes
        sub.fn_frames = self.fn_frames  # pendings land in the real frame
        sub.declared_types = self.declared_types
        sub.tmp_counter = self.tmp_counter
        sub.lambda_counter = self.lambda_counter
        node = sub.parse_assignment_expr()
        self.tmp_counter = sub.tmp_counter
        self.lambda_counter = sub.lambda_counter

        def fix_lines(n: N) -> None:
            if n.line in (0, 1):
                n.line = line
            for c in n.children:
                fix_lines(c)

        fix_lines(node)
        return node

    # -- ECMAScript call shape: every call carries a RECEIVER child plus a
    # base ARGUMENT(0), then args 1..n (CallAstBuilder.scala:25-62; lowering
    # per jssrc2cpg AstForExpressionsCreator.callExpressionInfoForCallLikeExpr
    # :54-93). CFG order follows child order: receiver → base → args → call.

    def _this_node(self, line: int) -> N:
        n = N(M.IDENTIFIER, code="this", name="this", line=line,
              type_full_name=M.ANY)
        decl = self.lookup("this")
        if decl is not None:
            n.ref_target = decl
        return n

    def _fresh_tmp(self, line: int) -> str:
        name = f"_tmp_{self.tmp_counter}"
        self.tmp_counter += 1
        return name

    def build_call(self, callee: N, start: Tok) -> N:
        self.next()  # (
        args: list[N] = []
        while not self.at(")"):
            args.append(self.parse_assignment_expr())
            if self.at(","):
                self.next()
        close = self.expect(")")
        if callee.kind == M.IDENTIFIER:
            decl = self.lookup(callee.name)
            target = getattr(decl, "method_full_name", "") if decl is not None else ""
            if decl is not None and decl.kind == M.METHOD_REF and decl.method_full_name:
                mfn, dispatch = decl.method_full_name, M.STATIC_DISPATCH
            elif decl is not None and target:
                # var f = function(){} — call through the binding
                mfn, dispatch = target, M.STATIC_DISPATCH
            else:
                mfn, dispatch = M.UNKNOWN_FULL_NAME, M.DYNAMIC_DISPATCH
            call = N(M.CALL, code=self.slice(start, close), name=callee.name,
                     method_full_name=mfn, dispatch_type=dispatch, line=start.line)
        else:
            call = N(M.CALL, code=self.slice(start, close), name=callee.code,
                     method_full_name=M.UNKNOWN_FULL_NAME,
                     dispatch_type=M.DYNAMIC_DISPATCH, line=start.line)
        # receiver = the callee expression; base = `this`
        # (AstForExpressionsCreator.scala:87-92)
        callee.role = M.ROLE_RECEIVER
        callee.arg_index = -1
        call.add(callee)
        base = self._this_node(start.line)
        base.arg_index = 0
        call.add(base)
        for i, a in enumerate(args, start=1):
            a.arg_index = i
            call.add(a)
        return call

    def build_member_call(self, receiver: N, fld_tok: Tok, start: Tok, arrow: bool) -> N:
        self.next()  # (
        args: list[N] = []
        while not self.at(")"):
            args.append(self.parse_assignment_expr())
            if self.at(","):
                self.next()
        close = self.expect(")")
        # exact GlobalBuiltins dictionary matches become STATIC calls with
        # the dotted methodFullName (AstForExpressionsCreator.scala:98;
        # DependencyAstCreationPassTests "JSON.parse": STATIC_DISPATCH,
        # mfn "JSON.parse"; `JSON.parse.apply` does NOT match and stays
        # dynamic)
        callee_code = f"{receiver.code}.{fld_tok.v}" \
            if receiver.kind == M.IDENTIFIER else None
        if callee_code in JS_GLOBAL_BUILTINS:
            call = N(M.CALL, code=self.slice(start, close), name=fld_tok.v,
                     method_full_name=callee_code,
                     dispatch_type=M.STATIC_DISPATCH, line=start.line)
        else:
            call = N(M.CALL, code=self.slice(start, close), name=fld_tok.v,
                     method_full_name=M.UNKNOWN_FULL_NAME,
                     dispatch_type=M.DYNAMIC_DISPATCH, line=start.line)
        fld = N(M.FIELD_IDENTIFIER, code=fld_tok.v, name=fld_tok.v,
                canonical_name=fld_tok.v, line=fld_tok.line, arg_index=2)
        if receiver.kind == M.IDENTIFIER:
            # x.foo(y): receiver = fieldAccess `x.foo`, base = a second
            # IDENTIFIER x (AstForExpressionsCreator.scala:65-69)
            base = N(M.IDENTIFIER, code=receiver.code, name=receiver.name,
                     line=receiver.line, type_full_name=receiver.type_full_name)
            if receiver.ref_target is not None:
                base.ref_target = receiver.ref_target
            fa_base, fa_code = receiver, f"{receiver.code}.{fld_tok.v}"
        else:
            # complex base: (_tmp_k = <base>).foo(...) with base ARGUMENT(0)
            # = _tmp_k (AstForExpressionsCreator.scala:70-84)
            tmp = self._fresh_tmp(start.line)
            tmp_id = N(M.IDENTIFIER, code=tmp, name=tmp, line=receiver.line,
                       type_full_name=M.ANY, arg_index=1)
            receiver.arg_index = 2
            assign = N(M.CALL, code=f"({tmp} = {receiver.code})",
                       name=M.OP_ASSIGNMENT, method_full_name=M.OP_ASSIGNMENT,
                       dispatch_type=M.STATIC_DISPATCH, line=receiver.line)
            assign.add(tmp_id, receiver)
            base = N(M.IDENTIFIER, code=tmp, name=tmp, line=start.line,
                     type_full_name=M.ANY)
            fa_base, fa_code = assign, f"({tmp} = {receiver.code}).{fld_tok.v}"
        fa_base.arg_index = 1
        fa = N(M.CALL, code=fa_code, name=M.OP_FIELD_ACCESS,
               method_full_name=M.OP_FIELD_ACCESS,
               dispatch_type=M.STATIC_DISPATCH, line=fld_tok.line)
        fa.add(fa_base, fld)
        fa.role = M.ROLE_RECEIVER
        fa.arg_index = -1
        call.add(fa)
        base.arg_index = 0
        call.add(base)
        for i, a in enumerate(args, start=1):
            a.arg_index = i
            call.add(a)
        return call


# operator additions for JS binary tokens
from joern_spark.frontends import clike as _clike  # noqa: E402

M.BINARY_OPERATOR_MAP.setdefault("===", M.OP + "equals")
M.BINARY_OPERATOR_MAP.setdefault("!==", M.OP + "notEquals")
M.BINARY_OPERATOR_MAP.setdefault("**", OP_EXPONENT)
M.BINARY_OPERATOR_MAP.setdefault("??", OP_NULLISH)
M.BINARY_OPERATOR_MAP.setdefault("in", OP_IN)
M.BINARY_OPERATOR_MAP.setdefault("instanceof", M.OP_INSTANCE_OF)


def parse_js_file(repo: str, path: str, commit: str, content: str) -> list[N]:
    return JsParser(content, path).parse()
