"""C/C++ frontend: pure-Python tokenizer + recursive-descent parser emitting
Joern-style CPG nodes (joern_spark.frontends.astnode.N trees).

Reproduces the reference c2cpg lowering semantics (NOT its code — the
reference uses Eclipse CDT + Scala):

* expression lowering to ``<operator>.*`` CALL nodes —
  c2cpg/.../astcreation/AstForExpressionsCreator.scala:33-81
* implicit ``cond != 0`` wrapping of if/while/do/for conditions unless the
  condition root is a CALL, BLOCK or LITERAL —
  c2cpg/.../astcreation/AstForStatementsCreator.scala:560-591
  (pointer-typed identifiers compare against ``NULL``)
* fullname conventions — c2cpg/.../astcreation/FullNameProvider.scala:52-103
  (C functions = bare name; C++ methods = qualified name + ":" + signature,
  ``::`` → ``.``)
* case labels are JUMP_TARGET nodes named ``case``/``default`` followed by
  the case expression as a sibling node (CfgCreator.scala:273-281 relies on
  this shape).

This module is deliberately dependency-free so it can run inside Arrow-batched
``mapInPandas`` workers with one parser instance per partition.
"""

from __future__ import annotations

import re
from bisect import bisect_left

from joern_spark import model as M
from joern_spark.frontends.astnode import N

KEYWORDS = frozenset(
    """auto break case char const continue default do double else enum extern
    float for goto if inline int long register return short signed sizeof
    static struct switch typedef union unsigned void volatile while
    class namespace template typename public private protected virtual
    override final new delete try catch throw operator this nullptr bool
    true false using friend explicit constexpr mutable
    consteval constinit""".split()
)

TYPE_KEYWORDS = frozenset(
    """void char short int long float double signed unsigned bool auto
    const volatile struct union enum class typename constexpr
    static extern register inline consteval constinit""".split()
)

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<comment>//[^\n]*|/\*.*?\*/)
  | (?P<num>0[bB][01_]+[lL]?|0[xX][0-9a-fA-F_]+[uUlL]*|\d[\d_]*\.[\d_]*(?:[eE][+-]?\d+)?[fFlLdD]?|\.\d[\d_]*(?:[eE][+-]?\d+)?[fFlLdD]?|\d[\d_]*(?:[eE][+-]?\d+)?[uUlL]*[fFlLdD]?)
  | (?P<str>"(?:\\.|[^"\\])*")
  | (?P<char>'(?:\\.|[^'\\])*')
  | (?P<id>[A-Za-z_][A-Za-z0-9_]*)
  | (?P<punct><<=|>>=|\.\.\.|->\*|<<|>>|<=|>=|==|!=|&&|\|\||\+\+|--|\+=|-=|\*=|/=|%=|&=|\^=|\|=|->|::|[{}()\[\];,.<>+\-*/%&|^~!?=:@])
    """,
    re.VERBOSE | re.DOTALL,
)


class Tok:
    __slots__ = ("t", "v", "a", "b", "line")

    def __init__(self, t, v, a, b, line):
        self.t, self.v, self.a, self.b, self.line = t, v, a, b, line

    def __repr__(self):  # pragma: no cover
        return f"Tok({self.t},{self.v!r})"


def tokenize(src: str, keywords: frozenset = KEYWORDS) -> list[Tok]:
    toks: list[Tok] = []
    line = 1
    i, n = 0, len(src)
    while i < n:
        # preprocessor lines (with backslash continuations) are skipped whole
        if src[i] == "#" and (i == 0 or src[i - 1] == "\n" or src[:i].rstrip(" \t").endswith("\n") or src[:i].strip() == ""):
            j = i
            while j < n:
                k = src.find("\n", j)
                if k == -1:
                    j = n
                    break
                if src[k - 1] == "\\":
                    j = k + 1
                    continue
                j = k
                break
            line += src.count("\n", i, j)
            i = j
            continue
        m = _TOKEN_RE.match(src, i)
        if not m:
            i += 1  # skip unknown byte
            continue
        kind = m.lastgroup
        text = m.group()
        if kind in ("ws", "comment"):
            line += text.count("\n")
        else:
            t = kind
            if kind == "id" and text in keywords:
                t = "kw"
            toks.append(Tok(t, text, m.start(), m.end(), line))
        i = m.end()
    return toks


class ParseError(Exception):
    pass


# --------------------------------------------------------------------------- #
# Preprocessor macros (c2cpg MacroHandler.scala / MacroArgumentExtractor.scala)
# --------------------------------------------------------------------------- #

class Macro:
    __slots__ = ("name", "params", "body", "code", "line")

    def __init__(self, name, params, body, code, line):
        self.name, self.params, self.body = name, params, body
        self.code, self.line = code, line


_DEFINE_RE = re.compile(r"[ \t]*#[ \t]*define[ \t]+(\w+)")
_INCLUDE_RE = re.compile(r'[ \t]*#[ \t]*include[ \t]*([<"])([^>"]+)[>"]')


def scan_includes(src: str) -> list[tuple[str, str, int]]:
    """[(imported_entity, directive_code, line)] for every #include —
    IMPORT node source (x2cpg/.../passes/frontend/XImportsPass.scala)."""
    out = []
    for i, ln in enumerate(src.split("\n"), start=1):
        m = _INCLUDE_RE.match(ln)
        if m:
            out.append((m.group(2), ln.strip(), i))
    return out


def scan_macros(src: str) -> dict[str, Macro]:
    """Collect #define directives (object- and function-like, with
    backslash continuations). The tokenizer still drops the directive lines;
    expansion happens at parse time (parse_macro_invocation)."""
    macros: dict[str, Macro] = {}
    lines = src.split("\n")
    idx = 0
    while idx < len(lines):
        start_line = idx + 1
        joined = lines[idx]
        while joined.rstrip().endswith("\\") and idx + 1 < len(lines):
            idx += 1
            joined = joined.rstrip()[:-1] + " " + lines[idx]
        idx += 1
        m = _DEFINE_RE.match(joined)
        if not m:
            continue
        name = m.group(1)
        rest = joined[m.end():]
        params = None
        if rest.startswith("("):
            close = rest.find(")")
            if close == -1:
                continue
            inner = rest[1:close].strip()
            params = [p.strip() for p in inner.split(",") if p.strip()] if inner else []
            rest = rest[close + 1:]
        body = rest.strip()
        if "#" in body:
            # stringize/paste (# / ##) is not expandable textually — keep the
            # macro opaque (invocations degrade to a plain call, like the
            # reference's unparseable-expansion fallback)
            continue
        macros[name] = Macro(name, params, body, joined.strip(), start_line)
    return macros


def substitute_params(body: str, params: list[str], args: list[str],
                      keywords: frozenset) -> str:
    """Token-boundary-aware parameter substitution that preserves the
    original body spacing (expansion node code strings mirror the #define
    text, like CDT's rawSignature). No # / ## support."""
    pmap = dict(zip(params, args))
    out = []
    last = 0
    for t in tokenize(body, keywords):
        if t.t == "id" and t.v in pmap:
            out.append(body[last:t.a])
            out.append(pmap[t.v])
            last = t.b
    out.append(body[last:])
    return "".join(out)


class CParser:
    """One instance per file. ``parse()`` returns list of root N nodes."""

    MAX_TOKENS = 400_000
    KEYWORD_SET = KEYWORDS
    STMT_TYPE_KEYWORDS = TYPE_KEYWORDS
    SUBSCRIPT_OP = M.OP_INDIRECT_INDEX_ACCESS
    # Java overrides: track JLS 6.3 pattern-variable flow-scope sets
    # through &&/|| (instanceof patterns); cheap class-attr guard so the
    # C/JS hot path pays one attribute test, no call
    TRACK_PATTERN_SETS = False
    # comparison/logical binary result type: C spells int, Java boolean
    BOOL_OP_TY = "int"
    # `p->field` member access is C/C++-only; Java's `->` is lambda/switch
    ARROW_MEMBER = True

    def lower_field_access(self, call: "N") -> "N":
        """Per-language rewrite hook for a just-built fieldAccess chain
        (Java: array `.length` -> sizeOf)."""
        return call

    def __init__(self, content: str, path: str, lang: str):
        if lang == "cpp":
            # C++ comparisons/logicals are bool (c2cpg; C spells int —
            # LambdaExpressionTests "capturing this": bool() lambda)
            self.BOOL_OP_TY = "bool"
        self.src = content
        self.path = path
        self.lang = lang  # "c" or "cpp"
        self.toks = tokenize(content, self.KEYWORD_SET)
        if len(self.toks) > self.MAX_TOKENS:
            raise ParseError(f"file too large: {len(self.toks)} tokens")
        self.pos = 0
        # Fuel guard: hostile inputs (fuzzed bytes, unclosed constructs) must
        # raise instead of spinning — a wedged parse would pin an executor
        # core forever since the Spark parse stage only maps *exceptions* to
        # parse_error rows. Budget is linear in input size; real parses use
        # a few dozen peeks per token.
        self.fuel = 300 * (len(self.toks) + 64)
        self.scopes: list[dict[str, N]] = [{}]
        self.ns: list[str] = []  # namespace / class qualifier stack
        self.global_block = f"{path}:{M.GLOBAL}"
        self.typedefs: set[str] = set()
        self.declared_types: dict[str, str] = {}  # simple name -> qualified fullname
        self.extern_c = 0  # inside extern "C" → C naming for free functions
        # preprocessor macro state (MacroHandler analogue)
        self.includes = scan_includes(content)
        self.macros: dict[str, Macro] = scan_macros(content)
        self.expanding: set[str] = set()
        self.in_expansion = False
        self.macro_methods: list[N] = []
        self.macro_stubbed: set[str] = set()
        # C++ class context: per-class member/method registries feeding the
        # implicit `this->member` wrap and receiver-typed member-call
        # resolution (ClassTypeTests.scala example 3)
        self.cpp_members: list[tuple[str, dict[str, str]]] = []
        self.cpp_class_methods: dict[str, dict[str, tuple[str, str, str]]] = {}
        # C++ free functions: name -> (fullname, signature) for call mfns
        self.cpp_free_funcs: dict[str, tuple[str, str]] = {}
        self.cpp_supers: dict[str, list[str]] = {}

    # ---------------- token helpers ----------------
    def peek(self, k=0) -> Tok | None:
        self.fuel -= 1
        if self.fuel < 0:
            raise ParseError("parser fuel exhausted (non-progressing parse)")
        p = self.pos + k
        return self.toks[p] if p < len(self.toks) else None

    def at(self, v, k=0) -> bool:
        # inlined peek (hot path): one fuel charge, no Tok None-check call
        self.fuel -= 1
        if self.fuel < 0:
            raise ParseError("parser fuel exhausted (non-progressing parse)")
        p = self.pos + k
        return p < len(self.toks) and self.toks[p].v == v

    def at_any(self, vs, k=0) -> bool:
        self.fuel -= 1
        if self.fuel < 0:
            raise ParseError("parser fuel exhausted (non-progressing parse)")
        p = self.pos + k
        return p < len(self.toks) and self.toks[p].v in vs

    def next(self) -> Tok:
        self.fuel -= 1
        if self.fuel < 0:
            raise ParseError("parser fuel exhausted (non-progressing parse)")
        p = self.pos
        if p >= len(self.toks):
            raise ParseError("unexpected EOF")
        self.pos = p + 1
        return self.toks[p]

    def expect(self, v) -> Tok:
        t = self.next()
        if t.v != v:
            raise ParseError(f"expected {v!r} got {t.v!r} at line {t.line}")
        return t

    def slice(self, a: Tok, b: Tok) -> str:
        return self.src[a.a : b.b].strip()

    def skip_balanced(self, open_v, close_v):
        depth = 0
        while True:
            t = self.next()
            if t.v == open_v:
                depth += 1
            elif t.v == close_v:
                depth -= 1
                if depth == 0:
                    return t
            elif close_v == ">" and t.v == ">>":
                # `>>` lexes as one token; inside nested template args
                # (std::map<string, vector<int>>) it closes two levels
                if depth >= 2:
                    depth -= 2
                    if depth == 0:
                        return t
                else:
                    # closes THIS level only — split the token and leave a
                    # `>` behind for the enclosing list (`<T extends
                    # List<String>>`)
                    second = Tok(t.t, ">", t.a + 1, t.b, t.line)
                    self.pos -= 1
                    self.toks[self.pos] = second
                    return Tok(t.t, ">", t.a, t.a + 1, t.line)

    def peek_matching_gt(self, limit: int = 128) -> bool:
        """True iff a balanced ``<...>`` starts at the cursor within `limit`
        tokens and before any ``;``/``{``/``}`` — distinguishes a template
        argument list from a comparison in declarator position."""
        depth = 0
        for k in range(limit):
            t = self.peek(k)
            if t is None or t.v in (";", "{", "}"):
                return False
            if t.v == "<":
                depth += 1
            elif t.v == ">":
                depth -= 1
                if depth == 0:
                    return True
            elif t.v == ">>" and depth >= 2:
                depth -= 2
                if depth == 0:
                    return True
        return False

    # ---------------- scope ----------------
    def push_scope(self):
        self.scopes.append({})

    def pop_scope(self):
        self.scopes.pop()

    def declare(self, name: str, node: N):
        self.scopes[-1][name] = node

    def lookup(self, name: str) -> N | None:
        for s in reversed(self.scopes):
            if name in s:
                return s[name]
        return None

    def on_unresolved_identifier(self, node: N) -> None:
        """Hook: an identifier failed scope resolution (JS overrides this
        to queue it for var-hoisted / synthesized-local linking)."""

    def parse_for_init_decls(self) -> list[N] | None:
        """Hook: language-specific for-init declarations (JS `var`/`let`/
        `const`). Return the LOCAL + init-assignment nodes, or None to use
        the default C-style init parsing."""
        return None

    def qual(self, name: str) -> str:
        return ".".join(self.ns + [name]) if self.ns else name

    # ---------------- type parsing ----------------
    def looks_like_type(self) -> bool:
        t = self.peek()
        if t is None:
            return False
        if t.t == "kw" and t.v in TYPE_KEYWORDS:
            return True
        if t.t == "id":
            if t.v in self.typedefs or t.v.endswith("_t"):
                return True
            # `Ident Ident`, `Ident * Ident` and `Ident &Ident` declaration shapes
            k = 1
            while self.at("::", k) or (self.peek(k) and self.peek(k).t == "id" and self.at("::", k + 1)):
                k += 1
            stars = 0
            while self.at_any(("*", "&"), k + stars):
                stars += 1
            nxt = self.peek(k + stars)
            if nxt is not None and nxt.t == "id" and stars > 0:
                after = self.peek(k + stars + 1)
                if after is not None and after.v in ("=", ";", ",", "[", ")"):
                    return True
            if nxt is not None and nxt.t == "id" and k > 1:
                return True
            if stars == 0 and nxt is not None and nxt.t == "id" and k == 1:
                after = self.peek(2)
                if after is not None and after.v in ("=", ";", ",", "[", "(", ")"):
                    return True
        return False

    def parse_type(self) -> str:
        """Consume a type spec; return normalized type string (``::`` → ``.``,
        template args stripped like FullNameProvider.stripTemplateTags)."""
        parts: list[str] = []
        saw_core = False
        while True:
            t = self.peek()
            if t is None:
                break
            if t.t == "kw" and t.v in TYPE_KEYWORDS:
                if t.v in ("struct", "union", "enum", "class", "typename"):
                    self.next()
                    continue  # elaborated specifier: keep the tag name only
                parts.append(self.next().v)
                # qualifiers do not end the specifier — `const struct X&`
                # must still take X as the core type
                if t.v not in ("const", "volatile", "static", "inline",
                               "extern", "register", "constexpr",
                               "consteval", "constinit"):
                    saw_core = True
                continue
            if t.t == "id" and not saw_core:
                parts.append(self.next().v)
                saw_core = True
                # qualified names
                while self.at("::"):
                    self.next()
                    parts[-1] += "." + self.next().v
                # template args — strip
                if self.at("<"):
                    self.skip_balanced("<", ">")
                continue
            break
        ptr = ""
        while self.at_any(("*", "&", "&&")):
            # both decorators survive into type names — the reference writes
            # `_json_value&(char*)<const>` (MethodTests operator overloads);
            # `&&` (rvalue ref) lexes as one token (AstCreationPassTests
            # "pack expansion with dereferences": Args&&)
            ptr += self.next().v
        # `volatile` survives into the type spelling ("volatile int**",
        # TypeNodePassTests "be correct for volatile types"); const/static
        # and the other storage classes drop
        saw_volatile = "volatile" in parts
        core = [p for p in parts if p not in ("const", "volatile", "static", "inline", "extern", "register", "constexpr", "consteval", "constinit")]
        # CDT-style size-specifier normalization (MethodTests.scala:
        # "long int"->"long", "long long int"->"longlong", "short int"->
        # "short"): a redundant `int` next to a size keyword drops; the
        # remaining multiword core concatenates without spaces
        if len(core) > 1 and "int" in core and \
                any(w in ("long", "short", "signed", "unsigned") for w in core):
            core = [w for w in core if w != "int"]
        base = ("".join(core) if all(
            w in ("long", "short", "signed", "unsigned", "int", "char",
                  "double", "float") for w in core) and len(core) > 1
            else " ".join(core))
        base = self.declared_types.get(base, base)
        if saw_volatile and base:
            base = f"volatile {base}"
        return (base + ptr) if base else ("ANY" + ptr)

    # ---------------- entry ----------------
    def parse(self) -> list[N]:
        roots: list[N] = []
        self.global_stmts: list[N] = []
        while self.peek() is not None:
            node = self.parse_top_level()
            if node is not None:
                if isinstance(node, list):
                    roots.extend(node)
                else:
                    roots.append(node)
        # forward-declaration dedup: repeated declarations of one fullname
        # collapse to a single METHOD, a definition winning over prototypes
        # (MethodTests.scala "MethodTest9": three `int abs(int);` rows +
        # usage -> exactly one `abs:int(int)`; out-of-line class methods
        # likewise merge with their in-class declaration)
        best: dict[str, N] = {}

        def _scan(n: N):
            if n.kind == M.METHOD:
                cur = best.get(n.full_name)
                if cur is None or (n.has_body and not cur.has_body):
                    best[n.full_name] = n
            elif n.kind == M.TYPE_DECL:  # nested classes carry methods too
                for c in n.children:
                    _scan(c)

        for r in roots:
            _scan(r)

        def _keep(m: N) -> bool:
            return m.kind != M.METHOD or best.get(m.full_name) is m

        def _prune(n: N):
            if n.kind == M.TYPE_DECL and n.children:
                n.children = [c for c in n.children if _keep(c)]
                for c in n.children:
                    _prune(c)

        roots = [r for r in roots if _keep(r)]
        for r in roots:
            _prune(r)
        # file-level variable declarations live in a `<global>` METHOD
        # named like the reference's fake global method
        if self.global_stmts:
            gm = N(M.METHOD, code="<global>", name="<global>",
                   full_name=self.global_block, signature="",
                   line=self.global_stmts[0].line,
                   ast_parent_type=M.NAMESPACE_BLOCK,
                   ast_parent_full_name=self.global_block)
            blk = N(M.BLOCK, code="", line=gm.line, type_full_name="void")
            blk.add(*self.global_stmts)
            gm.add(blk)
            gm.add(N(M.METHOD_RETURN, code="RET", type_full_name=M.ANY,
                     evaluation_strategy=M.BY_VALUE, line=gm.line))
            roots.append(gm)
        # macro METHOD stubs for every expanded macro (one per fullname,
        # MacroHandler.createMacroMethodStub)
        roots.extend(getattr(self, "macro_methods", []))
        # IMPORT nodes for #include directives (XImportsPass analogue)
        for entity, code, line in getattr(self, "includes", ()):
            roots.append(N(M.IMPORT, code=code, name=entity,
                           full_name=entity, line=line))
        return roots

    def parse_top_level(self):
        if self.lang == "cpp":
            self.skip_cpp_attributes()
        t = self.peek()
        if t is None:
            return None
        if t.v == ";":
            self.next()
            return None
        if t.v == "asm" and self.at("(", 1):
            # file-level `asm(...)` keeps an UNKNOWN node in the global
            # method body (AstCreationPassTests "embedded ASM code")
            self.global_stmts.append(self._parse_asm(t))
            return None
        if t.v == "namespace":
            return self.parse_namespace()
        if t.v in ("template",):
            # `template <...>` prefix: parse what follows; a bare `template`
            # introduces an EXPLICIT INSTANTIATION (`template void f<int>(int);`,
            # `template class Y<char*>;`) which creates no new METHOD/TYPE_DECL
            # (AstCreationPassTests "template class"/"template function":
            # exactly one node survives)
            self.next()
            if self.at("<"):
                self.skip_balanced("<", ">")
                if self.at_any(("class", "struct", "union")) \
                        and self.peek(1) is not None \
                        and self.peek(1).t == "id" \
                        and self.at(";", 2):
                    # template forward declaration — a TYPE_DECL with no
                    # body (TemplateTypeTests: `template<...> class Y;` and
                    # `template<...> struct Foo;` each yield one decl)
                    kw2 = self.next()
                    nm = self.next().v
                    self.next()  # ;
                    full = self.qual(nm)
                    self.typedefs.add(nm)
                    self.declared_types.setdefault(nm, full)
                    return N(M.TYPE_DECL, code=f"{kw2.v} {nm}", name=nm,
                             full_name=full, line=kw2.line,
                             ast_parent_type=M.NAMESPACE_BLOCK,
                             ast_parent_full_name=self.global_block)
                return self.parse_top_level()
            self.skip_to_semicolon()
            return None
        if t.v == "typedef":
            return self.parse_typedef()
        if t.v == "using":
            # using alias = type;  / using namespace x;
            start = self.next()
            if self.peek() and self.peek().t == "id" and self.at("=", 1):
                alias = self.next().v
                self.next()
                target = self.parse_type()
                if self.at(";"):
                    self.next()
                self.typedefs.add(alias)
                return N(M.TYPE_DECL, code=self.slice(start, self.toks[self.pos - 1]),
                         name=alias, full_name=self.qual(alias),
                         alias_type_full_name=target, line=start.line,
                         ast_parent_type=M.NAMESPACE_BLOCK,
                         ast_parent_full_name=self.global_block)
            while self.peek() is not None and not self.at(";"):
                self.next()
            if self.at(";"):
                self.next()
            return None
        k = 1
        if self.lang == "cpp" and t.v in ("struct", "class", "union"):
            # look past `[[nodiscard]]`-style attributes after the keyword
            while self.at("[", k) and self.at("[", k + 1):
                depth = 0
                while self.peek(k) is not None:
                    v = self.peek(k).v
                    k += 1
                    depth += (v == "[") - (v == "]")
                    if depth == 0:
                        break
        if t.v in ("struct", "class", "union") and self.peek(k) is not None and self.peek(k).t == "id" \
                and self.peek(k + 1) is not None and self.peek(k + 1).v in ("{", ":"):
            return self.parse_class()
        if t.v in ("struct", "class", "union") and self.peek(1) is not None \
                and self.peek(1).t == "id" and self.at(";", 2):
            # forward declaration `struct foo;` keeps a bodyless TYPE_DECL
            # (AstCreationPassTests "be correct for struct decl")
            kw = self.next()
            nm = self.next().v
            self.next()
            full = self.qual(nm)
            self.declared_types.setdefault(nm, full)
            return N(M.TYPE_DECL, code=f"{kw.v} {nm}", name=nm,
                     full_name=full, line=kw.line,
                     ast_parent_type=M.NAMESPACE_BLOCK,
                     ast_parent_full_name=self.global_block)
        if t.v == "enum":
            return self.parse_enum(t)
        if t.v == "extern" and self.peek(1) is not None and self.peek(1).t == "str":
            # extern "C": free functions inside take PLAIN C naming — no
            # namespace qual, no :signature suffix (MethodTests.scala
            # "be correct for plain extern C method": NNN + extern "C"
            # int method(int) -> fullName "method")
            self.next(); self.next()
            self.extern_c += 1
            try:
                if self.at("{"):
                    self.next()
                    out = []
                    while not self.at("}"):
                        r = self.parse_top_level()
                        if r is not None:
                            out.extend(r if isinstance(r, list) else [r])
                    self.next()
                    return out
                return self.parse_top_level()
            finally:
                self.extern_c -= 1
        # function definition / prototype / global var
        return self.parse_declaration_or_function()

    def parse_namespace(self):
        kw = self.next()
        # `namespace Q` or C++17 `namespace Q::V` — each segment gets its
        # own NAMESPACE_BLOCK named `{file}:{dotted}` (NamespaceTypeTests:
        # Q -> "Test0.cpp:Q", V -> "Test0.cpp:Q.V")
        segs: list[str] = []
        if self.peek() and self.peek().t == "id":
            if self.at("=", 1):
                # namespace alias `namespace B = A;` — qualified reads
                # through B resolve against A (Cpp17FeaturesTests
                # "namespace alias")
                alias = self.next().v
                self.next()
                parts = [self.next().v] if self.peek() is not None \
                    and self.peek().t == "id" else []
                while self.at("::") and self.peek(1) is not None \
                        and self.peek(1).t == "id":
                    self.next()
                    parts.append(self.next().v)
                if self.at(";"):
                    self.next()
                if parts:
                    target = ".".join(parts)
                    self.declared_types.setdefault(alias, target)
                    if not hasattr(self, "ns_aliases"):
                        self.ns_aliases = {}
                    self.ns_aliases[alias] = target
                return None
            segs.append(self.next().v)
            while self.at("::") and self.peek(1) is not None \
                    and self.peek(1).t == "id":
                self.next()
                segs.append(self.next().v)
        self.expect("{")
        out: list[N] = []
        for seg in segs:
            self.ns.append(seg)
            dotted = ".".join(p for p in self.ns if p)
            out.append(N(M.NAMESPACE_BLOCK, code=f"namespace {seg}",
                         name=seg, full_name=f"{self.path}:{dotted}",
                         line=kw.line))
        if not segs:
            self.ns.append("")
        while self.peek() is not None and not self.at("}"):
            r = self.parse_top_level()
            if r is not None:
                out.extend(r if isinstance(r, list) else [r])
        if self.at("}"):
            self.next()
        for _ in (segs or [""]):
            self.ns.pop()
        return out

    def parse_typedef(self):
        start = self.next()
        if self.at("enum"):
            # `typedef enum color { ... } C;` — the enum parses fully; the
            # alias becomes a second TYPE_DECL, and the pair cross-link via
            # aliasTypeFullName (EnumTypeTests "simple enum typedef":
            # color.alias = C, C.alias = color)
            decl = self.parse_enum(start)
            alias = None
            if self.peek() is not None and self.peek().t == "id":
                alias = self.next().v
            while self.peek() is not None and not self.at(";"):
                self.next()
            if self.at(";"):
                self.next()
            out = [decl] if decl is not None else []
            if alias and decl is not None:
                self.typedefs.add(alias)
                decl.code = f"typedef {decl.code}"
                decl.alias_type_full_name = alias
                out.append(N(M.TYPE_DECL, code=f"typedef {decl.name} {alias}",
                             name=alias, full_name=self.qual(alias),
                             alias_type_full_name=decl.full_name,
                             line=start.line,
                             ast_parent_type=M.NAMESPACE_BLOCK,
                             ast_parent_full_name=self.global_block))
            return out
        if self.at_any(("struct", "class", "union")) and self.at("{", 1):
            # `typedef struct { ... } Name;` — the anonymous composite takes
            # the typedef name (StructTypeTests "Typedef struct with
            # member": typeDecl Foo with member bar)
            alias = self._peek_typedef_alias()
            if alias:
                kw_tok = self.peek()
                # splice the name in by parsing as `struct Name { ... }`
                decl = self._parse_anon_composite(alias)
                while self.peek() is not None and not self.at(";"):
                    self.next()
                if self.at(";"):
                    self.next()
                return decl
        if self.at_any(("struct", "class", "union")) and \
                self.peek(1) is not None and self.peek(1).t == "id" and \
                self.at("{", 2):
            # `typedef struct X { ... } alias;` — the composite parses as a
            # full TYPE_DECL (members/methods included); the alias becomes a
            # second TYPE_DECL with aliasTypeFullName -> X
            decl = self.parse_class()
            alias = None
            if self.peek() is not None and self.peek().t == "id":
                alias = self.next().v
            while self.peek() is not None and not self.at(";"):
                self.next()
            if self.at(";"):
                self.next()
            out = [decl]
            if alias:
                self.typedefs.add(alias)
                # the struct TYPE_DECL itself carries the alias
                # (AstCreationPassTests "typedef struct":
                # typeDecl("foo").aliasTypeFullName("abc"))
                decl.alias_type_full_name = alias
                out.append(N(M.TYPE_DECL, code=f"typedef {decl.name} {alias}",
                             name=alias, full_name=self.qual(alias),
                             alias_type_full_name=decl.full_name,
                             line=start.line,
                             ast_parent_type=M.NAMESPACE_BLOCK,
                             ast_parent_full_name=self.global_block))
            return out
        ty = self.parse_type()
        name = ""
        amp_in_parens = False
        arr = ""
        while self.peek() is not None and not self.at(";"):
            tk = self.next()
            if tk.t == "id":
                name = tk.v
            elif tk.v == "&":
                amp_in_parens = True
            elif tk.v == "[":
                inner: list[str] = []
                while self.peek() is not None and not self.at("]"):
                    inner.append(self.next().v)
                if self.at("]"):
                    self.next()
                arr = "[" + "".join(inner) + "]"
        if self.at(";"):
            self.next()
        if not name:
            return None
        self.typedefs.add(name)
        # transitive alias resolution (`typedef foo * bar` -> char** when
        # foo aliases char*) and reference-to-array spellings
        # (`typedef const char (&TwoChars)[2]` -> "char(&)[2]"),
        # TypeNodePassTests :13-34
        stars = len(ty) - len(ty.rstrip("*"))
        base = ty.rstrip("*")
        if not hasattr(self, "typedef_aliases"):
            self.typedef_aliases = {}
        alias = self.typedef_aliases.get(base, base) + "*" * stars
        if amp_in_parens and arr:
            alias = f"{alias}(&){arr}"
        elif arr:
            alias += arr
        self.typedef_aliases[name] = alias
        return N(M.TYPE_DECL, code=self.slice(start, self.toks[self.pos - 1]),
                 name=name, full_name=self.qual(name),
                 alias_type_full_name=alias,
                 line=start.line, ast_parent_type=M.NAMESPACE_BLOCK,
                 ast_parent_full_name=self.global_block)

    def _parse_range_for(self, kw: "Tok") -> "N":
        """C++11 `for (type i : coll) body` — c2cpg's de-sugaring
        (AstForStatementsCreator.scala:400-500): a surrounding BLOCK with
        `<iterator>0` and loop-variable LOCALs, an
        `<iterator>0 = coll.iterator()` assignment, and a WHILE control
        structure (code `for (decl:coll)`) testing `<iterator>0.hasNext()`
        whose body assigns `i = <iterator>0.next()` before the original
        body (ForEachLoopTests.scala)."""
        ITER = "std.iterator"
        decl_start = self.peek()
        while self.at("const") or self.at("auto"):
            self.next()
        if self.at("&") or self.at("&&"):
            if self.at("[", 1):
                self.next()
        if self.at("["):
            return self._parse_range_for_binding(kw, decl_start)
        ty = self.parse_type() if not self.at(":") else M.ANY
        name = self.next().v if self.peek() is not None and \
            self.peek().t == "id" else "<unnamed>"
        decl_raw = self.slice(decl_start, self.toks[self.pos - 1])
        self.expect(":")
        coll_start = self.peek()
        coll = self.parse_expression()
        coll_raw = self.slice(coll_start, self.toks[self.pos - 1]) \
            if coll_start is not None else ""
        self.expect(")")
        line = kw.line
        self.push_scope()
        it_name = "<iterator>0"
        blk = N(M.BLOCK, code="", line=line, type_full_name="void")
        it_loc = N(M.LOCAL, code=it_name, name=it_name, type_full_name=ITER,
                   line=line)
        item_loc = N(M.LOCAL, code=name, name=name, type_full_name=ty,
                     line=line)
        self.declare(it_name, it_loc)
        self.declare(name, item_loc)
        it_id = N(M.IDENTIFIER, code=it_name, name=it_name,
                  type_full_name=ITER, arg_index=1, line=line)
        it_id.ref_target = it_loc
        icall = N(M.CALL, code=f"{coll_raw}.iterator()", name="iterator",
                  method_full_name=f"{M.UNRESOLVED_NAMESPACE}.iterator:"
                                   f"{ITER}()",
                  signature=f"{ITER}()", dispatch_type=M.DYNAMIC_DISPATCH,
                  type_full_name=ITER, arg_index=2, line=line)
        coll.role = M.ROLE_RECEIVER
        coll.arg_index = 0
        icall.add(coll)
        iasg = N(M.CALL, code=f"{it_name} = {coll_raw}.iterator()",
                 name=M.OP_ASSIGNMENT, method_full_name=M.OP_ASSIGNMENT,
                 dispatch_type=M.STATIC_DISPATCH, type_full_name="void",
                 line=line)
        iasg.add(it_id, icall)
        cs = N(M.CONTROL_STRUCTURE, code=f"for ({decl_raw}:{coll_raw})",
               control_structure_type=M.CS_WHILE, line=line)
        it_id2 = N(M.IDENTIFIER, code=it_name, name=it_name,
                   type_full_name=ITER, arg_index=0, role=M.ROLE_RECEIVER,
                   line=line)
        it_id2.ref_target = it_loc
        cond = N(M.CALL, code=f"{it_name}.hasNext()", name="hasNext",
                 method_full_name=f"{ITER}.hasNext:bool()",
                 signature="bool()", dispatch_type=M.DYNAMIC_DISPATCH,
                 type_full_name="bool", role=M.ROLE_CONDITION, line=line)
        cond.add(it_id2)
        cs.add(cond)
        wbody = N(M.BLOCK, code="", line=line, type_full_name="void",
                  role=M.ROLE_WHEN_TRUE)
        item_id = N(M.IDENTIFIER, code=name, name=name, type_full_name=ty,
                    arg_index=1, line=line)
        item_id.ref_target = item_loc
        it_id3 = N(M.IDENTIFIER, code=it_name, name=it_name,
                   type_full_name=ITER, arg_index=0, role=M.ROLE_RECEIVER,
                   line=line)
        it_id3.ref_target = it_loc
        ncall = N(M.CALL, code=f"{it_name}.next()", name="next",
                  method_full_name=f"{ITER}.next:{M.ANY}()",
                  signature=f"{M.ANY}()", dispatch_type=M.DYNAMIC_DISPATCH,
                  type_full_name=M.ANY, arg_index=2, line=line)
        ncall.add(it_id3)
        vasg = N(M.CALL, code=f"{name} = {it_name}.next()",
                 name=M.OP_ASSIGNMENT, method_full_name=M.OP_ASSIGNMENT,
                 dispatch_type=M.STATIC_DISPATCH, type_full_name=ty,
                 line=line)
        vasg.add(item_id, ncall)
        wbody.add(vasg)
        inner = N(M.BLOCK, code="", line=line, type_full_name="void")
        if self.at("{"):
            inner = self.parse_compound()
        else:
            inner.add(*self.parse_statement())
        wbody.add(inner)
        cs.add(wbody)
        blk.add(it_loc, item_loc, iasg, cs)
        self.pop_scope()
        return blk

    def _parse_range_for_binding(self, kw: "Tok", decl_start: "Tok") -> "N":
        """Ranged for over a structured binding `for (const auto& [a, b] :
        coll)` — c2cpg lowers to a FOR control structure whose body block
        front-loads `<tmp>0 = coll` plus one assignment per binding:
        index accesses (`a = <tmp>0[0]`) when the collection's declared
        type is an array, member accesses (`a = <tmp>0.a`) otherwise
        (AstCreationPassTests "ranged for-loop with structured binding
        with array/reference type" :799-856)."""
        self.expect("[")
        names: list[str] = []
        while self.peek() is not None and not self.at("]"):
            tok = self.next()
            if tok.t == "id":
                names.append(tok.v)
        decl_end = self.peek()
        if self.at("]"):
            self.next()
        decl_raw = self.slice(decl_start, decl_end) if decl_end else ""
        self.expect(":")
        coll_start = self.peek()
        coll = self.parse_expression()
        coll_raw = self.slice(coll_start, self.toks[self.pos - 1]) \
            if coll_start is not None else ""
        self.expect(")")
        line = kw.line
        self.push_scope()
        tmp = "<tmp>0"
        coll_ty = M.ANY
        d = self.lookup(coll_raw)
        if d is not None and d.type_full_name:
            coll_ty = d.type_full_name
        is_array = coll_ty.endswith("]")
        cs = N(M.CONTROL_STRUCTURE, code=f"for ({decl_raw}:{coll_raw})",
               control_structure_type=M.CS_FOR, line=line)
        body = N(M.BLOCK, code="", line=line, type_full_name="void",
                 role=M.ROLE_FOR_BODY)
        tmp_loc = N(M.LOCAL, code=tmp, name=tmp, type_full_name=coll_ty,
                    line=line)
        self.declare(tmp, tmp_loc)
        body.add(tmp_loc)
        bind_locals: list[N] = []
        for nm in names:
            loc = N(M.LOCAL, code=nm, name=nm, type_full_name=M.ANY,
                    line=line)
            self.declare(nm, loc)
            bind_locals.append(loc)
            body.add(loc)
        tmp_id = N(M.IDENTIFIER, code=tmp, name=tmp, type_full_name=coll_ty,
                   arg_index=1, line=line)
        tmp_id.ref_target = tmp_loc
        coll.arg_index = 2
        tasg = N(M.CALL, code=f"{tmp} = {coll_raw}", name=M.OP_ASSIGNMENT,
                 method_full_name=M.OP_ASSIGNMENT,
                 dispatch_type=M.STATIC_DISPATCH, type_full_name=coll_ty,
                 line=line)
        tasg.add(tmp_id, coll)
        body.add(tasg)
        for i, (nm, loc) in enumerate(zip(names, bind_locals)):
            lhs = N(M.IDENTIFIER, code=nm, name=nm, type_full_name=M.ANY,
                    arg_index=1, line=line)
            lhs.ref_target = loc
            base = N(M.IDENTIFIER, code=tmp, name=tmp,
                     type_full_name=coll_ty, arg_index=1, line=line)
            base.ref_target = tmp_loc
            if is_array:
                idx = N(M.LITERAL, code=str(i), type_full_name="int",
                        arg_index=2, line=line)
                rhs = N(M.CALL, code=f"{tmp}[{i}]", name=M.OP_INDEX_ACCESS,
                        method_full_name=M.OP_INDEX_ACCESS,
                        dispatch_type=M.STATIC_DISPATCH, line=line)
                rhs.add(base, idx)
            else:
                fld = N(M.FIELD_IDENTIFIER, code=nm, name=nm,
                        canonical_name=nm, arg_index=2, line=line)
                rhs = N(M.CALL, code=f"{tmp}.{nm}", name=M.OP_FIELD_ACCESS,
                        method_full_name=M.OP_FIELD_ACCESS,
                        dispatch_type=M.STATIC_DISPATCH, line=line)
                rhs.add(base, fld)
            rhs.arg_index = 2
            asg = N(M.CALL, code=f"{nm} = {rhs.code}", name=M.OP_ASSIGNMENT,
                    method_full_name=M.OP_ASSIGNMENT,
                    dispatch_type=M.STATIC_DISPATCH, line=line)
            asg.add(lhs, rhs)
            body.add(asg)
        if self.at("{"):
            inner = self.parse_compound()
            body.add(*inner.children)
        else:
            body.add(*self.parse_statement())
        cs.add(body)
        self.pop_scope()
        return cs

    def parse_enum(self, t: "Tok") -> "N | None":
        """`enum [class] Name [: T] { a, b = <expr>, ... }` — MEMBERs per
        enumerator (typed by the underlying type when written) plus a
        `<clinit>` method holding the initializer assignments with raw
        source codes (EnumTypeTests.scala: `color.<clinit>:color()` with
        "green = 20")."""
        self.next()
        kw2 = ""
        if self.at("class") or self.at("struct"):
            kw2 = f" {self.peek().v}"
            self.next()
        name = self.next().v if self.peek() and self.peek().t == "id" else ""
        under = ""
        if self.at(":"):
            self.next()
            under = self.parse_type()
        if not name and not self.at("{"):
            if self.at(";"):
                self.next()
            return None
        full = self.qual(name) if name else name
        if name:
            # qualified enum types resolve in conversion operators and
            # member declarations (ClassTypeTests "conversions": Foo.Kind)
            self.declared_types.setdefault(name, full)
        anon = not name
        if anon and self.at("{"):
            # anonymous enums get `<enum>N` names, or the trailing alias
            # declarator's name when present (EnumTypeTests "anonymous
            # enum [with alias]")
            self.anon_enum_n = getattr(self, "anon_enum_n", 0)
            name = f"<enum>{self.anon_enum_n}"
            self.anon_enum_n += 1
            full = self.qual(name)
        decl = N(M.TYPE_DECL, code=f"enum{kw2} {name}".rstrip() if not anon
                 else "enum", name=name,
                 full_name=full, line=t.line,
                 ast_parent_type=M.NAMESPACE_BLOCK,
                 ast_parent_full_name=self.global_block) if name else None
        if self.at("{"):
            self.next()
            inits: list[N] = []
            while self.peek() is not None and not self.at("}"):
                if self.peek().t != "id":
                    self.next()
                    continue
                etok = self.next()
                if decl is not None:
                    decl.add(N(M.MEMBER, code=etok.v, name=etok.v,
                               type_full_name=under or "int", line=etok.line))
                if self.at("="):
                    self.next()
                    vstart = self.peek()
                    # enumerator initializer expression (ends at , or })
                    depth = 0
                    while self.peek() is not None:
                        v = self.peek().v
                        if v in ("(", "[", "{"):
                            depth += 1
                        elif v in (")", "]"):
                            depth -= 1
                        elif depth == 0 and v in (",", "}"):
                            break
                        self.next()
                    ident = N(M.IDENTIFIER, code=etok.v, name=etok.v,
                              type_full_name=under or "int", arg_index=1,
                              line=etok.line)
                    rhs = N(M.UNKNOWN,
                            code=self.slice(vstart, self.toks[self.pos - 1]),
                            line=vstart.line, arg_index=2) \
                        if vstart is not None else None
                    asg = N(M.CALL,
                            code=self.slice(etok, self.toks[self.pos - 1]),
                            name=M.OP_ASSIGNMENT,
                            method_full_name=M.OP_ASSIGNMENT,
                            dispatch_type=M.STATIC_DISPATCH, line=etok.line)
                    asg.add(ident)
                    if rhs is not None:
                        asg.add(rhs)
                    inits.append(asg)
                if self.at(","):
                    self.next()
            if self.at("}"):
                self.next()
            if decl is not None and inits:
                clinit = N(M.METHOD, code=M.STATIC_INIT, name=M.STATIC_INIT,
                           full_name=f"{full}.{M.STATIC_INIT}:{name}()",
                           signature=f"{name}()", line=t.line,
                           ast_parent_type=M.TYPE_DECL,
                           ast_parent_full_name=full)
                body = N(M.BLOCK, line=t.line)
                body.add(*inits)
                clinit.add(body)
                clinit.add(N(M.METHOD_RETURN, code="RET",
                             type_full_name=name,
                             evaluation_strategy=M.BY_VALUE, line=t.line))
                decl.add(clinit)
        if anon and decl is not None and self.peek() is not None \
                and self.peek().t == "id":
            # `enum { ... } testing;` — the declarator names the decl
            # (EnumTypeTests "anonymous enum with alias")
            alias_tok = self.next()
            decl.name = alias_tok.v
            decl.full_name = self.qual(alias_tok.v)
            for ch in decl.children:
                if ch.kind == M.MEMBER:
                    ch.ast_parent_full_name = decl.full_name
            self.anon_enum_n -= 1
            name = alias_tok.v
        if self.at(";"):
            self.next()
        if name:
            self.typedefs.add(name)
        return decl

    def _peek_typedef_alias(self) -> str | None:
        """Token-scan past the balanced composite body to the trailing
        typedef name (`typedef struct { ... } Foo;`)."""
        i = self.pos + 1  # at "{"
        depth = 0
        toks = self.toks
        while i < len(toks):
            v = toks[i].v
            if v == "{":
                depth += 1
            elif v == "}":
                depth -= 1
                if depth == 0:
                    j = i + 1
                    if j < len(toks) and toks[j].t == "id":
                        return toks[j].v
                    return None
            i += 1
        return None

    def _parse_anon_composite(self, name: str) -> N:
        """Parse `struct { ... }` as if it were `struct <name> { ... }`."""
        kw = self.next()
        full = self.qual(name)
        decl = N(M.TYPE_DECL, code=f"{kw.v} {name}", name=name,
                 full_name=full, line=kw.line,
                 ast_parent_type=M.NAMESPACE_BLOCK,
                 ast_parent_full_name=self.global_block)
        self.typedefs.add(name)
        self.declared_types[name] = full
        self.expect("{")
        self.ns.append(name)
        while self.peek() is not None and not self.at("}"):
            if self.at(";"):
                self.next()
                continue
            member = self.parse_class_member(full)
            if member is not None:
                decl.add(*member) if isinstance(member, list) else decl.add(member)
        if self.at("}"):
            self.next()
        self.ns.pop()
        return decl

    # ---------------- class / struct ----------------
    def parse_class(self, nested_in: str | None = None) -> N:
        kw = self.next()  # struct/class/union
        if self.lang == "cpp":
            self.skip_cpp_attributes()
        name_tok = self.next()
        name = name_tok.v
        full = self.qual(name)
        inherits: list[str] = []
        if self.at(":"):
            self.next()
            while True:
                while self.at_any(("public", "private", "protected", "virtual")):
                    self.next()
                base = self.parse_type()
                if base:
                    # resolve unqualified base names declared earlier in an
                    # enclosing namespace (FullNameProvider qualifies bases)
                    inherits.append(self.declared_types.get(base, base))
                if self.at(","):
                    self.next()
                    continue
                break
        decl = N(M.TYPE_DECL, code=f"{kw.v} {name}", name=name, full_name=full,
                 inherits_from=inherits or None, line=kw.line,
                 ast_parent_type=M.TYPE_DECL if nested_in else M.NAMESPACE_BLOCK,
                 ast_parent_full_name=nested_in or self.global_block)
        self.typedefs.add(name)
        self.declared_types[name] = full
        self.cpp_supers[full] = list(inherits)
        self.expect("{")
        self.ns.append(name)
        self.cpp_members.append((full, {}))
        while self.peek() is not None and not self.at("}"):
            if self.at_any(("public", "private", "protected")) and self.at(":", 1):
                self.next(); self.next()
                continue
            if self.at(";"):
                self.next()
                continue
            member = self.parse_class_member(full)
            if member is not None:
                decl.add(*member) if isinstance(member, list) else decl.add(member)
        if self.at("}"):
            self.next()
        if self.at(";"):
            self.next()
        self.cpp_members.pop()
        self.ns.pop()
        # unqualified member calls inside the class body resolve to the
        # class's own methods — bodies may call members declared LATER, so
        # fix up after the whole class parses (c2cpg CallTest 5:
        # `b()` inside A.a -> A.b:void())
        table = self.cpp_class_methods.get(full, {})
        if table:
            def _fix(n: "N") -> None:
                if n.kind == M.CALL and n.method_full_name == n.name \
                        and "." not in n.name and n.name in table:
                    fn, sig, _rty = table[n.name]
                    n.method_full_name = fn
                    n.signature = sig
                for c in n.children:
                    _fix(c)
            _fix(decl)
        return decl

    def parse_class_member(self, class_full: str):
        is_virtual = False
        is_static = False
        while self.at_any(("virtual", "static", "inline", "explicit", "friend", "constexpr", "mutable")):
            if self.at("virtual"):
                is_virtual = True
            if self.at("static"):
                is_static = True
            self.next()
        start = self.peek()
        # nested class/struct/union (MethodTests.scala "nested class":
        # Outer.Inner fullnames; AstCreationPassTests "constructor
        # initializer": Foo.Bar.Bar:void(float))
        if self.at_any(("class", "struct", "union")) and \
                self.peek(1) is not None and self.peek(1).t == "id" and \
                (self.at("{", 2) or self.at(":", 2)):
            return self.parse_class(nested_in=class_full)
        if self.at("enum"):
            # nested enum member `enum Kind { A, B, C } kind;` — the enum
            # TYPE_DECL plus an optional member typed by it
            # (ClassTypeTests "conversions": Foo.Kind)
            e = self.parse_enum(start)
            out = [e] if e is not None else []
            if self.peek() is not None and self.peek().t == "id":
                nm = self.next()
                ety = e.full_name if e is not None else M.ANY
                out.append(N(M.MEMBER, code=nm.v, name=nm.v,
                             type_full_name=ety, line=nm.line))
            if self.at(";"):
                self.next()
            return out
        # constructor / destructor — c2cpg names constructors after the
        # class (fullName Foo.Foo:void(int), AstCreationPassTests:1470-1476),
        # destructors keep the `~` name
        if self.at("~") or (start is not None and start.t == "id" and start.v == class_full.split(".")[-1] and self.at("(", 1)):
            dtor = self.at("~")
            if dtor:
                self.next()
            nm = self.next().v
            nm = ("~" + nm) if dtor else nm
            return self.parse_function_rest("void", nm, start, class_full,
                                            dynamic=is_virtual,
                                            is_static=is_static)
        if self.at("operator") and self.peek(1) is not None \
                and self.peek(1).t == "id":
            # conversion operator `operator Kind() const` — named after the
            # target type, which is also the return type (ClassTypeTests
            # "conversions": Foo.Kind:Foo.Kind()<const>)
            self.next()
            sym = self.next().v
            return self.parse_function_rest(
                self.declared_types.get(sym, sym), sym, start, class_full,
                dynamic=is_virtual, is_static=is_static)
        ty = self.parse_type()
        if self.peek() is None:
            return None
        nm_tok = self.peek()
        if nm_tok.t != "id" and nm_tok.v != "operator":
            # unparseable member — skip to ; or }
            while self.peek() is not None and not self.at_any((";", "}")):
                if self.at("{"):
                    self.skip_balanced("{", "}")
                    return None
                self.next()
            if self.at(";"):
                self.next()
            return None
        name = self.next().v
        while self.at("::") and self.peek(1) is not None:
            # redundant in-class qualifier `Foo &Foo::operator+ (...)`
            # (ClassTypeTests "operator definitions")
            self.next()
            name = self.next().v
        if name == "operator":
            # overload name is the bare symbol (shortName strips the
            # `operator` keyword; MethodTests "extern C class operator
            # overloads": fullnames `_json_value.[]:...`)
            sym = ""
            while self.peek() is not None and not self.at("("):
                sym += self.next().v
            if sym == "" and self.at("("):
                # operator() — the symbol IS the call parens
                self.next()
                self.expect(")")
                sym = "()"
            name = sym
            if sym and sym[0].isalpha() and sym not in ("new", "delete"):
                # conversion operator `operator Kind() const` — the return
                # type is the (qualified) target type (ClassTypeTests
                # "fullnames in classes with conversions": Foo.Kind);
                # `operator new`/`operator delete` keep the declared
                # return type ("operator definitions": Foo.delete:void(..))
                ty = self.declared_types.get(sym, sym)
        if self.at("("):
            return self.parse_function_rest(ty, name, start, class_full,
                                            dynamic=is_virtual,
                                            is_static=is_static)
        # member variable(s) — code is the DECLARATOR spelling: pointer
        # stars + name + raw array suffix ("x", "*foo", "a[SIZE - 1]",
        # StructTypeTests.scala)
        def _decl_code(stars: str, nm: str) -> tuple[str, str]:
            """(declarator code, sized-array type suffix) — array members
            keep the size in the TYPE like locals/params do
            (AstCreationPassTests "be consistent with array types")."""
            code = f"{stars}{nm}"
            suf = ""
            if self.at("["):
                lb = self.peek()
                suf = self._array_dim_suffix()
                code += self.slice(lb, self.toks[self.pos - 1])
            return code, suf
        if self.cpp_members and self.cpp_members[-1][0] == class_full:
            self.cpp_members[-1][1][name] = ty
        code0, suf0 = _decl_code("*" * ty.count("*"), name)
        members = [N(M.MEMBER, code=code0, name=name,
                     type_full_name=ty + suf0, line=start.line)]
        while self.at(","):
            self.next()
            stars2 = ""
            while self.at("*"):
                stars2 += "*"
                self.next()
            if self.peek() is None or self.peek().t != "id":
                break
            nm2 = self.next().v
            code2, suf2 = _decl_code(stars2, nm2)
            members.append(N(M.MEMBER, code=code2, name=nm2,
                             type_full_name=ty + stars2.replace("*", "*")
                             + suf2,
                             line=start.line))
        while self.peek() is not None and not self.at(";"):
            self.next()
        if self.at(";"):
            self.next()
        return members

    # ---------------- functions ----------------
    def parse_declaration_or_function(self):
        start = self.peek()
        save = self.pos
        while self.at_any(("static", "inline", "extern", "const", "constexpr", "virtual")):
            self.next()
        ty = self.parse_type()
        t = self.peek()
        if t is None:
            return None
        if t.t != "id":
            # could be an expression statement at top level — skip safely
            self.pos = save
            self.skip_to_semicolon()
            return None
        name = self.next().v
        if self.at("<") and self.lang == "cpp" and self.peek_matching_gt():
            # template-id declarator `foo<A, B, C>(...)` — args stripped
            # from the short name (FullNameProvider.stripTemplateTags;
            # MethodTests.scala "MethodTest6": fullName "foo:void()")
            self.skip_balanced("<", ">")
        pushed = 0
        while self.at("::"):  # out-of-class definition Class::(Nested::)method
            self.next()
            self.ns.append(name)
            pushed += 1
            name = self.next().v
            if self.at("<") and self.peek_matching_gt():
                self.skip_balanced("<", ">")
        try:
            if pushed:
                if self.at("("):
                    return self.parse_function_rest(
                        ty, name, start, self.qual(""), trailing_ns=pushed,
                        this_class=self.qual("").rstrip("."))
            elif self.at("("):
                return self.parse_function_rest(ty, name, start, None)
        finally:
            for _ in range(pushed):
                self.ns.pop()
        if not pushed and self.at("{") and self.lang == "cpp":
            # global brace-init declaration `byte b {0};` / `auto x2 {3};`
            # — the LOCAL types from the declared type, or from a single
            # brace literal under `auto` (Cpp17FeaturesTests "auto
            # deduction from braced-init-list": x2 int, x3 double,
            # multi-element stays ANY)
            init = self._parse_brace_init(self.next())
            if self.at(";"):
                self.next()
            lty = ty
            if ty == "auto":
                elems = [c for c in init.children]
                if len(elems) == 1 and elems[0].kind == M.LITERAL \
                        and elems[0].type_full_name:
                    lty = elems[0].type_full_name
                else:
                    lty = M.ANY
            loc = N(M.LOCAL, code=f"{ty} {name}", name=name,
                    type_full_name=lty, line=start.line)
            self.declare(name, loc)
            ident = N(M.IDENTIFIER, code=name, name=name,
                      type_full_name=lty, line=start.line, arg_index=1)
            ident.ref_target = loc
            init.arg_index = 2
            asg = N(M.CALL, code=f"{name} = {init.code}",
                    name=M.OP_ASSIGNMENT, method_full_name=M.OP_ASSIGNMENT,
                    dispatch_type=M.STATIC_DISPATCH, type_full_name=lty,
                    line=start.line)
            asg.add(ident, init)
            self.global_stmts.extend([loc, asg])
            return None
        # global variable declaration: LOCAL (+ assignment) statements in
        # the file's `<global>` method (c2cpg global handling;
        # DataFlowTest81 flows from top-level initializers)
        if not pushed and self.at("[") and self.lang in ("c", "cpp"):
            # global array declarator `int x[] = {...};` — the dims fold
            # into the type (AstCreationPassTests "array init")
            while self.at("["):
                ty += self._array_dim_suffix()
        if not pushed and self.at_any(("=", ",", ";")):
            decls: list[N] = []
            cur_name = name
            while True:
                loc = N(M.LOCAL, code=f"{ty} {cur_name}", name=cur_name,
                        type_full_name=ty, line=start.line)
                self.declare(cur_name, loc)
                decls.append(loc)
                if self.at("="):
                    self.next()
                    try:
                        if self.at("{"):
                            init = self._parse_brace_init(self.next())
                            if ty == "auto":
                                # `auto x1 = {1, 2, 3}` deduces ANY; a
                                # single literal deduces its type
                                # (Cpp17FeaturesTests "auto deduction from
                                # braced-init-list")
                                elems = init.children
                                loc.type_full_name = (
                                    elems[0].type_full_name
                                    if len(elems) == 1
                                    and elems[0].kind == M.LITERAL
                                    and elems[0].type_full_name else M.ANY)
                        else:
                            init = self.parse_assignment_expr()
                    except ParseError:
                        self.skip_to_semicolon()
                        self.global_stmts.extend(decls)
                        return None
                    ident = N(M.IDENTIFIER, code=cur_name, name=cur_name,
                              type_full_name=ty, line=start.line,
                              arg_index=1)
                    ident.ref_target = loc
                    init.arg_index = 2
                    # a brace-ctor BLOCK rhs has no code of its own — spell
                    # the assignment from the ctor call inside it
                    # ("x = Foo{0}", AstCreationPassTests :1538)
                    rhs_code = init.code or next(
                        (c.code for c in init.children
                         if c.kind == M.CALL and c.name != M.OP_ASSIGNMENT),
                        "")
                    asg = N(M.CALL, code=f"{cur_name} = {rhs_code}",
                            name=M.OP_ASSIGNMENT,
                            method_full_name=M.OP_ASSIGNMENT,
                            dispatch_type=M.STATIC_DISPATCH,
                            type_full_name=ty, line=start.line)
                    asg.add(ident, init)
                    decls.append(asg)
                if self.at(",") and self.peek(1) is not None \
                        and self.peek(1).t == "id":
                    self.next()
                    cur_name = self.next().v
                    continue
                break
            if self.at(";"):
                self.next()
            else:
                self.skip_to_semicolon()
            self.global_stmts.extend(decls)
            return None
        self.skip_to_semicolon()
        return None

    def skip_to_semicolon(self):
        while self.peek() is not None and not self.at(";"):
            if self.at("{"):
                self.skip_balanced("{", "}")
                return
            self.next()
        if self.at(";"):
            self.next()

    def parse_function_rest(self, ret_ty: str, name: str, start: Tok, class_full: str | None,
                            dynamic: bool = False, trailing_ns: int = 0,
                            is_static: bool = False,
                            this_class: str | None = None):
        """At '(' of a function declarator."""
        self.expect("(")
        # (type, name, variadic, raw code)
        params: list[tuple[str, str, bool, str]] = []
        while not self.at(")"):
            if self.lang == "cpp":
                self.skip_cpp_attributes()
            if self.at("..."):
                self.next()
                # the ellipsis parameter: named `<param>{i}`, typed like the
                # preceding parameter, code `<param>{i}...`
                # (AstCreationPassTests "variadic parameter ... (ellipsis)")
                idx = len(params) + 1
                prev_ty = params[-1][0] if params else M.ANY
                params.append((prev_ty, f"<param>{idx}", True,
                               f"<param>{idx}..."))
                continue
            if self.at("void") and self.at(")", 1):
                self.next()
                continue
            p_start = self.peek()
            pty = self.parse_type()
            # parameter pack `int*... args` / `Args&&... args`: variadic,
            # the signature keeps the TYPE (no `...`)
            # (AstCreationPassTests "packed args", "pack expansion")
            pack = False
            if self.at("...") and self.peek(1) is not None \
                    and self.peek(1).t == "id":
                self.next()
                pack = True
            pname = ""
            if self.at("(") and self.peek(1) is not None \
                    and self.peek(1).t == "id" and self.at(")", 2):
                # parenthesized declarator `int * (a)` (MethodTests "Name
                # for method parameter in parentheses")
                self.next()
                pname = self.next().v
                self.next()
            elif self.peek() is not None and self.peek().t == "id":
                pname = self.next().v
            p_end = self.toks[self.pos - 1]
            dim_sufs: list[str] = []
            while self.at("["):
                dim_sufs.append(self._array_dim_suffix())
                p_end = self.toks[self.pos - 1]
            if dim_sufs:
                # `T x[]` -> T[]; `T x[1]` -> T[1]; `T *x[]` -> T[]*
                # (CDT spelling, AstCreationPassTests "parameter in nodes
                # as array...", "be consistent with array types")
                stars = len(pty) - len(pty.rstrip("*"))
                pty = pty.rstrip("*") + "".join(dim_sufs) + "*" * stars
            if self.at("="):  # default arg
                self.next()
                depth = 0
                while self.peek() is not None and (depth > 0 or not self.at_any((",", ")"))):
                    v = self.next().v
                    depth += v in "([<"
                    depth -= v in ")]>"
            # code keeps the raw declarator spelling ("const char *a")
            raw = self.src[p_start.a:p_end.b].strip() if p_start is not None \
                else f"{pty} {pname}".strip()
            params.append((pty, pname, pack, raw))
            if self.at(","):
                self.next()
        self.expect(")")
        if self.lang == "c" and params \
                and all(not p[1] and p[0] and "*" not in p[0]
                        and p[0][:1].isalpha() for p in params) \
                and self.peek() is not None and not self.at_any(
                    (";", "{", ",", ")", "=")) \
                and (self.peek().t == "kw" or self.peek().t == "id"):
            # K&R declaration list: `int handler(x, y) int *x; int *y; {}`
            # — the name list parsed as bare "types"; the following
            # declarations supply the real types; param CODE keeps the raw
            # declaration incl. ';' (AstCreationPassTests "knr function
            # declarations")
            knr: dict[str, tuple[str, str]] = {}
            while self.peek() is not None and not self.at_any(("{", ";")):
                d_start = self.peek()
                dty = self.parse_type()
                while self.peek() is not None and self.peek().t == "id":
                    dname = self.next().v
                    if self.at(","):
                        self.next()
                        knr[dname] = (dty, "")
                        continue
                    break
                if self.at(";"):
                    semi = self.next()
                    knr[dname] = (dty, self.src[d_start.a:semi.b].strip())
                else:
                    break
            params = [(knr.get(nm, (M.ANY, ""))[0], nm, False,
                       knr.get(nm, ("", f"{nm}"))[1] or nm)
                      for (nm, _e, _v, _r) in params]
        const_method = False
        while self.at_any(("const", "override", "final", "noexcept")):
            if self.at("const"):
                const_method = True
            self.next()
        if self.at("->"):  # trailing return type
            self.next()
            ret_ty = self.parse_type()
        ctor_inits = None
        if self.at(":") and self.lang == "cpp":
            # constructor member-initializer list — remember the token
            # range; the inits parse AFTER the parameter scope exists so
            # `i(i)` refs the param (Cpp17FeaturesTests "member
            # initializer lists")
            self.next()
            init_start = self.pos
            prev_was_id = False
            while self.peek() is not None and not self.at(";"):
                if self.at("("):
                    self.skip_balanced("(", ")")
                    prev_was_id = False
                    continue
                if self.at("{"):
                    if prev_was_id:  # brace init `b{i}`, not the body
                        self.skip_balanced("{", "}")
                        prev_was_id = False
                        continue
                    break
                prev_was_id = self.peek().t == "id"
                self.next()
            ctor_inits = (init_start, self.pos)
        # implicit receiver for C++ non-static member functions (typed
        # `Class*`, MethodTests.scala "implicit member access")
        this_ty = None
        if self.lang == "cpp" and not is_static:
            if this_class is not None:
                this_ty = this_class + "*"
            elif class_full is not None and not class_full.endswith("."):
                this_ty = class_full + "*"
        if self.at(";"):  # prototype — METHOD node with params + RET, no body
            # (c2cpg emits METHOD nodes for function declarations too; the
            # dataflow golden tests address prototype params/method-returns,
            # e.g. DataFlowTests.scala "DataFlowTest8": `void sink(int* cont);`
            # appears in flows as ("sink(int* cont)", 3) / ("RET", 2))
            self.next()
            return self._make_method(ret_ty, name, start, class_full, params,
                                     body=None, const_method=const_method,
                                     this_type=this_ty)
        if not self.at("{"):
            self.skip_to_semicolon()
            return None
        return self._make_method(ret_ty, name, start, class_full, params,
                                 body="parse", const_method=const_method,
                                 this_type=this_ty, ctor_inits=ctor_inits)

    def _make_method(self, ret_ty: str, name: str, start: Tok,
                     class_full: str | None, params, body,
                     const_method: bool = False, this_type: str | None = None,
                     ctor_inits: "tuple[int, int] | None" = None):
        # ellipsis params spell `...` in the signature (int(char*,...));
        # named parameter packs keep their type (void(int,int*))
        sig_params = ",".join(
            "..." if (p[2] and p[1].startswith("<param>")) else p[0]
            for p in params)
        # const member functions carry the <const> tag in the signature
        # (FullNameProvider.signature: Defines.ConstSuffix; MethodTests
        # "_json_value.[]:_json_value&(int)<const>")
        signature = f"{ret_ty}({sig_params})" + (M.CONST_SUFFIX if const_method else "")
        if self.lang == "cpp" and not (self.extern_c and class_full is None):
            q = self.qual(name) if class_full is None else f"{class_full.rstrip('.')}" + ("." if class_full and not class_full.endswith(".") else "") + name
            if class_full is not None and class_full.endswith("."):
                q = class_full + name
            full_name = f"{q}:{signature}"
        else:
            # C — and extern "C" free functions in C++ translation units —
            # use the bare name (sanitizeMethodLikeFullName isCPPFunction
            # gate; MethodTests "plain extern C method" -> "method")
            full_name = name if class_full is None else f"{class_full}.{name}"
        parent_type = M.TYPE_DECL if class_full else M.NAMESPACE_BLOCK
        parent_full = class_full.rstrip(".") if class_full else self.global_block

        method = N(M.METHOD, code=f"{ret_ty} {name} ({sig_params})", name=name,
                   full_name=full_name, signature=signature, line=start.line,
                   ast_parent_type=parent_type, ast_parent_full_name=parent_full)
        if self.lang == "cpp" and class_full is None and "." not in name:
            self.cpp_free_funcs.setdefault(name, (full_name, signature))
            # namespaced free functions also key under the qualified
            # spelling so `NNN::foo(1)` resolves (c2cpg CallTests
            # "stand alone method (CPP)")
            q = full_name.rsplit(":", 1)[0] if ":" in full_name else full_name
            if q != name:
                self.cpp_free_funcs.setdefault(q, (full_name, signature))
        if self.lang == "cpp" and class_full:
            self.cpp_class_methods.setdefault(
                class_full.rstrip("."), {})[name] = (full_name, signature,
                                                     ret_ty)
        method.has_body = body is not None
        self.push_scope()
        if this_type is not None:
            # implicit receiver (AstCreator this-parameter; MethodTests
            # "class method with implicit member access": name `this`,
            # typeFullName `A*`, index 0)
            p0 = N(M.METHOD_PARAMETER_IN, code="this", name="this",
                   type_full_name=this_type, param_index=0, line=start.line,
                   evaluation_strategy=M.BY_SHARING)
            method.add(p0)
            self.declare("this", p0)
        for i, (pty, pname, var, raw) in enumerate(params, start=1):
            p = N(M.METHOD_PARAMETER_IN, code=raw,
                  name=pname or f"param{i}", type_full_name=pty or M.ANY,
                  param_index=i, is_variadic=var, line=start.line,
                  evaluation_strategy=M.BY_VALUE)
            method.add(p)
            if pname:
                self.declare(pname, p)
        if body == "parse":
            if not hasattr(self, "cpp_method_stack"):
                self.cpp_method_stack = []
            self.cpp_method_stack.append(name)
            try:
                blk = self.parse_compound()
            finally:
                self.cpp_method_stack.pop()
            if ctor_inits is not None:
                # member initializers lower to `this->x = <expr>`
                # assignments at the ctor body front; they parse here so
                # the parameter scope shadows same-named members
                # (Cpp17FeaturesTests "member initializer lists")
                blk.children[:0] = self._parse_ctor_init_list(*ctor_inits)
            if ret_ty == "auto" and self.lang == "cpp":
                # auto return deduction: a returned lambda deduces
                # std.function (Cpp17FeaturesTests "lambda capture this by
                # value"), otherwise ANY (Cpp20FeaturesTests "lambda
                # capture of parameter pack": f1:ANY(Args&&))
                ret_ty = M.ANY
                for st_node in blk.children:
                    if st_node.kind == M.RETURN and st_node.children:
                        if st_node.children[0].kind == M.METHOD_REF:
                            ret_ty = "std.function"
                        break
                signature = f"{ret_ty}({sig_params})" \
                    + (M.CONST_SUFFIX if const_method else "")
                method.signature = signature
                if ":" in method.full_name:
                    method.full_name = (method.full_name.rsplit(":", 1)[0]
                                        + ":" + signature)
                if class_full is None and "." not in name:
                    self.cpp_free_funcs[name] = (method.full_name, signature)
                if class_full:
                    cm = self.cpp_class_methods.get(class_full.rstrip("."))
                    if cm is not None and name in cm:
                        cm[name] = (method.full_name, signature, ret_ty)
            method.add(blk)
            method.line_end = blk.line_end
        method.add(N(M.METHOD_RETURN, code="RET", type_full_name=ret_ty,
                     evaluation_strategy=M.BY_VALUE, line=start.line))
        self.pop_scope()
        return method

    # ---------------- statements ----------------
    def parse_compound(self) -> N:
        open_tok = self.expect("{")
        block = N(M.BLOCK, code="", line=open_tok.line, type_full_name="void")
        self.push_scope()
        while self.peek() is not None and not self.at("}"):
            block.add(*self.parse_statement())
        if self.at("}"):
            block.line_end = self.next().line  # closing-brace line
        self.pop_scope()
        return block

    def _parse_ctor_init_list(self, start_pos: int, end_pos: int) -> list:
        """Parse the remembered `: r(a), b{i}, ...` token range into
        `this->x = <expr>` assignments. Qualified entries (`Bar::Foo(a,b)`
        base-class inits) are skipped. Runs inside the ctor's parameter
        scope; the position restores afterwards."""
        save = self.pos
        self.pos = start_pos
        out: list[N] = []
        try:
            while self.pos < end_pos and self.peek() is not None:
                if self.at(","):
                    self.next()
                    continue
                if self.peek().t != "id":
                    self.next()
                    continue
                name_tok = self.next()
                if self.at("::"):  # base-class initializer — skip
                    while self.pos < end_pos and not self.at_any((",",)):
                        if self.at("("):
                            self.skip_balanced("(", ")")
                        elif self.at("{"):
                            self.skip_balanced("{", "}")
                        else:
                            self.next()
                    continue
                opener = self.peek().v if self.peek() is not None else ""
                if opener not in ("(", "{"):
                    continue
                self.next()
                closer = ")" if opener == "(" else "}"
                if self.at(closer):
                    self.next()
                    rhs = N(M.BLOCK, code="{}", line=name_tok.line)
                    rhs_code = "{}"
                else:
                    rhs = self.parse_expression()
                    if self.at(closer):
                        self.next()
                    rhs_code = rhs.code
                fname = name_tok.v
                this_id = N(M.IDENTIFIER, code="this", name="this",
                            line=name_tok.line, arg_index=1)
                fld = N(M.FIELD_IDENTIFIER, code=fname, name=fname,
                        canonical_name=fname, line=name_tok.line,
                        arg_index=2)
                fa = N(M.CALL, code=f"this->{fname}",
                       name=M.OP_INDIRECT_FIELD_ACCESS,
                       method_full_name=M.OP_INDIRECT_FIELD_ACCESS,
                       dispatch_type=M.STATIC_DISPATCH, line=name_tok.line,
                       arg_index=1)
                fa.add(this_id, fld)
                rhs.arg_index = 2
                asg = N(M.CALL, code=f"this->{fname} = {rhs_code}",
                        name=M.OP_ASSIGNMENT,
                        method_full_name=M.OP_ASSIGNMENT,
                        dispatch_type=M.STATIC_DISPATCH,
                        line=name_tok.line)
                asg.add(fa, rhs)
                out.append(asg)
        except ParseError:
            pass
        self.pos = save
        return out

    def skip_cpp_attributes(self) -> None:
        """`[[fallthrough]]`, `[[nodiscard]]`, `[[maybe_unused]]` ... —
        C++11 attributes are no-ops in the graph (Cpp17FeaturesTests
        "fallthrough, nodiscard, maybe_unused attributes")."""
        while self.at("[") and self.at("[", 1):
            self.skip_balanced("[", "]")
            if self.at(";"):
                self.next()

    def parse_statement(self) -> list[N]:
        if self.lang == "cpp" and self.at("[") and self.at("[", 1):
            self.skip_cpp_attributes()
            # `[[fallthrough]];` directly before the next case label —
            # hand control back to the switch-body loop
            if self.at_any(("case", "default", "}")):
                return []
        t = self.peek()
        if t is None:
            return []
        v = t.v
        if v == ";":
            self.next()
            return []
        if v == "{":
            return [self.parse_compound()]
        if v == "asm" and self.at("(", 1) and self.lang in ("c", "cpp"):
            return [self._parse_asm(t)]
        if v == "if":
            node = self.parse_if()
            pend = getattr(self, "pending_stmt_prefix", None)
            if pend:
                self.pending_stmt_prefix = None
                return pend + [node]
            return [node]
        if v == "while":
            node = self.parse_while()
            pend = getattr(self, "pending_stmt_prefix", None)
            if pend:
                self.pending_stmt_prefix = None
                return pend + [node]
            return [node]
        if v == "do":
            return [self.parse_do()]
        if v == "for":
            return [self.parse_for()]
        if v == "switch":
            node = self.parse_switch()
            pend = getattr(self, "pending_stmt_prefix", None)
            if pend:
                self.pending_stmt_prefix = None
                return pend + [node]
            return [node]
        if v == "try":
            return [self.parse_try()]
        if v == "throw":
            return [self.parse_throw()]
        if v == "return":
            return [self.parse_return()]
        if v in ("break", "continue"):
            # optional same-line label (JS/Java labeled break/continue;
            # SimpleCfgCreationPassTests.scala:304-352 — `continue loop1;`
            # jumps to the `loop1:` JUMP_TARGET); semicolon optional (ASI)
            self.next()
            label = ""
            nt = self.peek()
            if nt is not None and nt.t == "id" and nt.line == t.line:
                label = self.next().v
            end = self.toks[self.pos - 1]
            if self.at(";"):
                end = self.next()
            return [N(M.CONTROL_STRUCTURE, code=self.slice(t, end),
                      control_structure_type=(M.CS_BREAK if v == "break"
                                              else M.CS_CONTINUE),
                      jump_label=label, line=t.line)]
        if v == "goto":
            return self.parse_goto()
        # label:  (identifier followed by ':', not '::')
        if t.t == "id" and self.at(":", 1) and not self.at("::", 1):
            return self.parse_label()
        # declaration? (STMT_TYPE_KEYWORDS is per-language: Java adds
        # boolean/byte, which are not C type keywords)
        if (t.t == "kw" and t.v in self.STMT_TYPE_KEYWORDS) \
                or (t.t == "kw" and t.v == "static"
                    and self.lang in ("c", "cpp")) \
                or (t.t == "id" and self.looks_like_type()):
            save = self.pos
            decl = self.try_parse_declaration()
            if decl is not None:
                return decl
            self.pos = save
        # expression statement
        expr = self.parse_expression()
        if self.at(";"):
            self.next()
        return [expr] if expr is not None else []

    def parse_label(self) -> list[N]:
        label_tok = self.next()
        self.expect(":")
        if self.at("}"):
            # trailing label with no statement (`foo: }` —
            # c2cpg ControlStructureTest1's goto target)
            jt = N(M.JUMP_TARGET, code=f"{label_tok.v}:",
                   name=label_tok.v, line=label_tok.line)
            return [jt]
        inner = self.parse_statement()
        # code spans `label: <stmt>` — matches CDT rawSignature of the label stmt
        end_tok = self.toks[self.pos - 1]
        code = self.slice(label_tok, end_tok)
        jt = N(M.JUMP_TARGET, code=code, name=label_tok.v, line=label_tok.line)
        return [jt] + inner

    def parse_goto(self) -> list[N]:
        g = self.next()
        if self.at("*"):
            # GNU computed goto lowers to TWO siblings: the GOTO node (code
            # "goto *;", jumps to every label) followed by the label-name
            # expression — c2cpg AstForStatementsCreator.astsForGnuGotoStatement
            expr = self.parse_expression()  # parses `*ptr` as indirection
            if self.at(";"):
                self.next()
            node = N(M.CONTROL_STRUCTURE, code="goto *;",
                     control_structure_type=M.CS_GOTO, jump_label="*", line=g.line)
            return [node, expr]
        label = self.next().v
        semi = self.expect(";")
        return [N(M.CONTROL_STRUCTURE, code=self.slice(g, semi),
                  control_structure_type=M.CS_GOTO, jump_label=label, line=g.line)]

    def parse_return(self) -> N:
        r = self.next()
        expr = None
        if not self.at(";"):
            expr = self.parse_expression()
        if self.at("}"):
            # error recovery: `return 0 }` — CDT tolerates the missing
            # semicolon (querydb codeExamples rely on it, e.g.
            # DangerousFunctions.scala's insecure_scanf/insecure_strncat)
            semi = self.toks[self.pos - 1]
        else:
            semi = self.expect(";")
        node = N(M.RETURN, code=self.slice(r, semi), line=r.line)
        if expr is not None:
            expr.arg_index = 1
            node.add(expr)
        return node

    def parse_throw(self) -> N:
        th = self.next()
        expr = None
        if not self.at(";") and not self.at("}") and self.peek() is not None:
            expr = self.parse_expression()
        end = self.toks[self.pos - 1]
        if self.at(";"):
            self.next()
        node = N(M.CONTROL_STRUCTURE, code=self.slice(th, end),
                 control_structure_type=M.CS_THROW, line=th.line)
        if expr is not None:
            expr.arg_index = 1
            node.add(expr)
        return node

    def parse_condition_parens(self):
        self.expect("(")
        if self.lang == "cpp" and self._has_init_semi():
            # C++17 `if (init; cond)` — the initializer hoists BEFORE the
            # statement (Cpp17FeaturesTests "selection statements with
            # initializer")
            init = (self.try_parse_declaration(consume_semi=False)
                    if self.looks_like_type() else None)
            if init is None:
                e = self.parse_expression()
                init = [e] if e is not None else []
            if self.at(";"):
                self.next()
            if not hasattr(self, "pending_stmt_prefix") \
                    or self.pending_stmt_prefix is None:
                self.pending_stmt_prefix = []
            self.pending_stmt_prefix += init
        cond = self.parse_expression()
        close = self.expect(")")
        return cond, close

    def _has_init_semi(self) -> bool:
        k = 0
        depth = 1
        while self.peek(k) is not None:
            v = self.peek(k).v
            if v in "([{":
                depth += 1
            elif v in ")]}":
                depth -= 1
                if depth == 0:
                    return False
            elif v == ";" and depth == 1:
                return True
            k += 1
        return False

    def empty_loop_condition(self, kw: Tok) -> N | None:
        """`for (;;)` condition placeholder — C emits none (the loop body
        runs unconditionally, CfgCreationPassTests `for-empty-all`); jssrc
        overrides this with a `true` literal (Babel lowering, jssrc2cpg
        SimpleCfgCreationPassTests `for-loop with empty condition`)."""
        return None

    def wrap_condition(self, cond: N) -> N:
        """Implicit `x != 0` / `ptr != NULL` wrap — reference
        AstForStatementsCreator.wrapInNullComparison (c2cpg, :560-591)."""
        if cond is None:
            return cond
        if cond.kind in (M.CALL, M.BLOCK, M.LITERAL):
            return cond
        is_ptr = cond.kind == M.IDENTIFIER and cond.type_full_name.endswith("*")
        null_code = "NULL" if is_ptr else "0"
        lit = N(M.LITERAL, code=null_code, line=cond.line,
                type_full_name=(M.ANY if is_ptr else "int"), arg_index=2)
        call = N(M.CALL, code=f"{cond.code} != {null_code}", name=M.OP_NOT_EQUALS,
                 method_full_name=M.OP_NOT_EQUALS, dispatch_type=M.STATIC_DISPATCH,
                 type_full_name="int", line=cond.line)
        cond.arg_index = 1
        call.add(cond, lit)
        return call

    def parse_if(self) -> N:
        kw = self.next()
        if self.lang == "cpp" and self.at("constexpr"):
            self.next()  # C++17 `if constexpr (...)` (Cpp17FeaturesTests)
        cond, close = self.parse_condition_parens()
        inner = self.src[kw.b:close.a].strip()
        if inner.startswith("("):  # drop exactly the header's own open paren
            inner = inner[1:].lstrip()
        node = N(M.CONTROL_STRUCTURE, code=f"if ({inner})",
                 control_structure_type=M.CS_IF, line=kw.line)
        cond = self.wrap_condition(cond)
        cond.role = M.ROLE_CONDITION
        node.add(cond)
        tok = self.body_scope_enter(cond, True)
        try:
            then = self.parse_statement()
        finally:
            self.body_scope_exit(tok)
        body = self.as_block(then, role=M.ROLE_WHEN_TRUE, line=kw.line)
        node.add(body)
        if self.at("else"):
            e = self.next()
            tok = self.body_scope_enter(cond, False)
            try:
                els_stmt = self.parse_statement()
            finally:
                self.body_scope_exit(tok)
            node.add(self.make_else(e, els_stmt))
        return node

    def body_scope_enter(self, cond: N | None, when_true: bool):
        """Hook before a control-structure branch parses: Java hides
        instanceof-pattern bindings not introduced on this branch
        (JLS 6.3 flow scoping). No-op for C/C++/JS."""
        return None

    def body_scope_exit(self, token) -> None:
        pass

    def make_else(self, e: Tok, stmts: list[N]) -> N:
        """C/C++/JS: an ELSE control structure wrapping the else branch
        (c2cpg AstForStatementsCreator). javasrc overrides this with a plain
        false-body BLOCK (ControlStructureTests.scala:701-716)."""
        els = N(M.CONTROL_STRUCTURE, code="else", control_structure_type=M.CS_ELSE,
                role=M.ROLE_WHEN_FALSE, line=e.line)
        els.add(*stmts)
        return els

    def toks_index_after(self, tok: Tok) -> Tok:
        # first token after `tok` — used for code slices like `if (<...>)`;
        # bisect over the precomputed start offsets (was a linear scan that
        # profiled at ~7% of parse on statement-heavy files)
        starts = getattr(self, "_tok_starts", None)
        if starts is None:
            starts = self._tok_starts = [t.a for t in self.toks]
        i = bisect_left(starts, tok.b)
        return self.toks[i] if i < len(self.toks) else tok

    def as_block(self, stmts: list[N], role: str, line: int) -> N:
        if len(stmts) == 1 and stmts[0].kind == M.BLOCK:
            stmts[0].role = role
            return stmts[0]
        b = N(M.BLOCK, code="", role=role, line=line, type_full_name="void")
        b.add(*stmts)
        return b

    def _try_condition_decl(self) -> "tuple[N, N] | None":
        """C++ condition declarations `while (int n = count())` /
        `for (...; char* p = getNext(); ...)` — the LOCAL hoists out and
        the condition becomes the bare `n = count()` assignment
        (ControlStructureTests "while loop with const pointer assignment
        condition": assignment calls are no loop-equal candidates).
        Returns (local, assignment) or None."""
        if self.lang != "cpp":
            return None
        save = self.pos
        while self.at("const"):
            self.next()
        if not (self.peek() is not None
                and (self.peek().t == "kw" and self.peek().v
                     in self.STMT_TYPE_KEYWORDS
                     or self.peek().t == "id" and self.looks_like_type())):
            self.pos = save
            return None
        try:
            ty_start = self.peek()
            ty = self.parse_type()
            ptr = ""
            while self.at_any(("*", "&")):
                ptr += "*" if self.next().v == "*" else ""
            if self.peek() is None or self.peek().t != "id" \
                    or not self.at("=", 1):
                self.pos = save
                return None
            name_tok = self.next()
            self.next()  # '='
            init = self.parse_assignment_expr()
        except ParseError:
            self.pos = save
            return None
        ty += ptr
        name = name_tok.v
        raw = self.slice(ty_start, name_tok)
        loc = N(M.LOCAL, code=raw, name=name, type_full_name=ty,
                line=name_tok.line)
        self.declare(name, loc)
        ident = N(M.IDENTIFIER, code=name, name=name, type_full_name=ty,
                  line=name_tok.line, arg_index=1)
        ident.ref_target = loc
        init.arg_index = 2
        asg = N(M.CALL, code=f"{name} = {init.code}", name=M.OP_ASSIGNMENT,
                method_full_name=M.OP_ASSIGNMENT,
                dispatch_type=M.STATIC_DISPATCH, type_full_name=ty,
                line=name_tok.line)
        asg.add(ident, init)
        return loc, asg

    def parse_while(self) -> N:
        kw = self.next()
        self.expect("(")
        decl = self._try_condition_decl()
        if decl is not None:
            loc, cond = decl
            # the hoisted LOCAL lands in the enclosing block, before the
            # WHILE (ControlStructureTests: cLocal.astParent == the
            # method block)
            self.pending_stmt_prefix = (getattr(self, "pending_stmt_prefix",
                                                None) or []) + [loc]
        else:
            cond = self.parse_expression()
        close = self.expect(")")
        code = f"while ({self.src[kw.b:close.a].strip().lstrip('(').strip()})"
        node = N(M.CONTROL_STRUCTURE, code=code, control_structure_type=M.CS_WHILE, line=kw.line)
        cond = self.wrap_condition(cond)
        cond.role = M.ROLE_CONDITION
        node.add(cond)
        tok = self.body_scope_enter(cond, True)
        try:
            body = self.as_block(self.parse_statement(),
                                 role=M.ROLE_WHEN_TRUE, line=kw.line)
        finally:
            self.body_scope_exit(tok)
        node.add(body)
        return node

    def parse_do(self) -> N:
        kw = self.next()
        node = N(M.CONTROL_STRUCTURE, code="do", control_structure_type=M.CS_DO, line=kw.line)
        body = self.as_block(self.parse_statement(), role=M.ROLE_DO_BODY, line=kw.line)
        node.add(body)
        self.expect("while")
        self.expect("(")
        cond = self.parse_expression()
        self.expect(")")
        if self.at(";"):
            self.next()
        cond = self.wrap_condition(cond)
        cond.role = M.ROLE_CONDITION
        node.add(cond)
        return node

    def parse_for(self) -> N:
        kw = self.next()
        self.expect("(")
        if self.lang == "cpp":
            i = self.pos
            depth = 1
            while i < len(self.toks):
                v = self.toks[i].v
                if v == "(":
                    depth += 1
                elif v == ")":
                    depth -= 1
                    if depth == 0:
                        break
                elif depth == 1 and v == ";":
                    break
                elif depth == 1 and v == ":":
                    return self._parse_range_for(kw)
                i += 1
        node = N(M.CONTROL_STRUCTURE, code="for", control_structure_type=M.CS_FOR, line=kw.line)
        self.push_scope()
        # init
        if not self.at(";"):
            hook_decls = self.parse_for_init_decls()
            if hook_decls is not None:
                locals_ = [d for d in hook_decls if d.kind == M.LOCAL]
                inits = [d for d in hook_decls if d.kind != M.LOCAL]
                node.add(*locals_)
                if inits:
                    init = (self.as_block(inits, role=M.ROLE_FOR_INIT,
                                          line=kw.line)
                            if len(inits) > 1 else inits[0])
                    init.role = M.ROLE_FOR_INIT
                    node.add(init)
            elif self.looks_like_type() or (self.peek() and self.peek().t == "kw" and self.peek().v in TYPE_KEYWORDS):
                decls = self.try_parse_declaration(consume_semi=False)
                if decls:
                    locals_ = [d for d in decls if d.kind == M.LOCAL]
                    inits = [d for d in decls if d.kind != M.LOCAL]
                    node.add(*locals_)
                    if inits:
                        init = self.as_block(inits, role=M.ROLE_FOR_INIT, line=kw.line) if len(inits) > 1 else inits[0]
                        init.role = M.ROLE_FOR_INIT
                        node.add(init)
            else:
                init = self.parse_expression()
                if init is not None:
                    init.role = M.ROLE_FOR_INIT
                    node.add(init)
        self.expect(";")
        # condition
        if not self.at(";"):
            decl = self._try_condition_decl()
            if decl is not None:
                # `for (...; char* p = getNext(); ...)` — the LOCAL lives
                # under the FOR node, the condition is the bare assignment
                # (ControlStructureTests "for loop with pointer condition
                # declaration")
                loc, cond = decl
                node.add(loc)
            else:
                cond = self.parse_expression()
                cond = self.wrap_condition(cond)
            cond.role = M.ROLE_CONDITION
            node.add(cond)
        else:
            cond = self.empty_loop_condition(kw)
            if cond is not None:
                cond.role = M.ROLE_CONDITION
                node.add(cond)
        self.expect(";")
        # update + body run only when the condition held (JLS 6.3: pattern
        # variables from the condition are in scope in both)
        tok = self.body_scope_enter(cond, True)
        try:
            # update
            if not self.at(")"):
                upd = self.parse_expression()
                if upd is not None:
                    upd.role = M.ROLE_FOR_UPDATE
                    node.add(upd)
            self.expect(")")
            body = self.as_block(self.parse_statement(), role=M.ROLE_FOR_BODY, line=kw.line)
        finally:
            self.body_scope_exit(tok)
        node.add(body)
        self.pop_scope()
        return node

    def parse_switch(self) -> N:
        kw = self.next()
        self.expect("(")
        cond = self.parse_expression()
        close = self.expect(")")
        # strip exactly ONE wrapping paren — lstrip('(') would also eat the
        # opening paren of a parenthesized condition like `switch ((x) => "")`
        inner = self.src[kw.b:close.a].strip()
        if inner.startswith("("):
            inner = inner[1:].strip()
        code = f"switch ({inner})"
        node = N(M.CONTROL_STRUCTURE, code=code, control_structure_type=M.CS_SWITCH, line=kw.line)
        cond.role = M.ROLE_CONDITION  # switch condition is NOT wrapped
        node.add(cond)
        open_tok = self.expect("{")
        body = N(M.BLOCK, code="", role=M.ROLE_WHEN_TRUE, line=open_tok.line, type_full_name="void")
        self.push_scope()
        while self.peek() is not None and not self.at("}"):
            if self.at("case"):
                c = self.next()
                expr = self.parse_expression()
                colon = self.expect(":")
                code_txt = self.slice(c, colon)
                body.add(N(M.JUMP_TARGET, code=code_txt, name=f"case {expr.code}", line=c.line))
                body.add(expr)  # case expression is a CFG node sibling (CfgCreator.scala:273-281)
                continue
            if self.at("default"):
                d = self.next()
                colon = self.expect(":")
                body.add(N(M.JUMP_TARGET, code="default:", name="default", line=d.line))
                continue
            body.add(*self.parse_statement())
        if self.at("}"):
            self.next()
        self.pop_scope()
        node.add(body)
        return node

    def parse_try(self) -> N:
        kw = self.next()
        node = N(M.CONTROL_STRUCTURE, code="try", control_structure_type=M.CS_TRY, line=kw.line)
        body = self.parse_compound()
        body.role = M.ROLE_TRY_BODY
        node.add(body)
        while self.at("catch"):
            c = self.next()
            catch = N(M.CONTROL_STRUCTURE, code="catch", control_structure_type=M.CS_CATCH,
                      role=M.ROLE_CATCH_BODY, line=c.line)
            self.push_scope()
            if self.at("("):
                self.next()
                if self.at("..."):
                    self.next()
                else:
                    pty = self.parse_type()
                    if self.peek() is not None and self.peek().t == "id":
                        pn = self.next()
                        loc = N(M.LOCAL, code=f"{pty} {pn.v}", name=pn.v,
                                type_full_name=pty, line=pn.line)
                        catch.add(loc)
                        self.declare(pn.v, loc)
                self.expect(")")
            cb = self.parse_compound()
            catch.add(cb)
            self.pop_scope()
            node.add(catch)
        return node

    def try_parse_declaration(self, consume_semi: bool = True) -> list[N] | None:
        """`int x = 1, *y;` → [LOCAL x, CALL x = 1, LOCAL y]."""
        start = self.peek()
        base_ty = self.parse_type()
        if self.peek() is None or (self.peek().t != "id"
                                   and not (self.at("(")
                                            and self.peek(1) is not None
                                            and self.peek(1).t == "id"
                                            and self.at(")", 2)
                                            and self.at_any(("=", ";", ","),
                                                            3))):
            return None
        out: list[N] = []
        first_declarator = True
        while True:
            ptr = ""
            amp = False
            paren_decl = False
            while self.at_any(("*", "&")):
                if self.next().v == "*":
                    ptr += "*"
                else:
                    amp = True
            if self.at("(") and self.peek(1) is not None \
                    and self.peek(1).t == "id" and self.at(")", 2) \
                    and self.at_any(("=", ";", ","), 3):
                paren_decl = True
                # parenthesized declarator `int (x) = a` (MethodTests
                # "Name for method parameter in parentheses")
                self.next()
                name_tok = self.next()
                self.next()
            elif self.peek() is None or self.peek().t != "id":
                return None
            else:
                name_tok = self.next()
            name = name_tok.v
            ty = base_ty + ptr
            # array declarators keep the sized spelling `char[BUFSIZE->
            # 0x111...]` in the TYPE (object-like macros expanded) and the
            # raw source in the CODE (AstCreationPassTests "be consistent
            # with array types", "be consistent with long number types")
            arr_close = None
            arr_size_txt = None
            while self.at("["):
                suf = self._array_dim_suffix()
                arr_close = self.toks[self.pos - 1]
                arr_size_txt = suf[1:-1]
                ty += suf
            ty = ty + "&" if amp else ty
            # locals keep the raw CDT declarator spelling ("char * badChar",
            # "struct test *ptr", "std::lock_guard<std::mutex> lk" —
            # TypeNodePassTests "create correct types for identifiers"/
            # "structs", Cpp17FeaturesTests "selection statements")
            if self.lang in ("c", "cpp") and first_declarator \
                    and not paren_decl:
                loc_code = self.slice(start, arr_close or name_tok)
                # CDT does not surface `constinit` in rawSignature
                # (Cpp20FeaturesTests "handle constinit")
                if loc_code.startswith("constinit "):
                    loc_code = loc_code[len("constinit "):]
            elif arr_close is not None:
                loc_code = self.slice(start, arr_close)
            elif amp or ty.endswith("&"):
                loc_code = self.slice(start, name_tok)
            else:
                loc_code = f"{ty} {name}"
            loc = N(M.LOCAL, code=loc_code, name=name, type_full_name=ty, line=name_tok.line)
            out.append(loc)
            self.declare(name, loc)
            if arr_close is not None and not self.at("=") \
                    and arr_size_txt \
                    and arr_size_txt[:1].isdigit():
                # sized stack array without initializer lowers to an
                # <operator>.alloc over the (macro-expanded) size
                # (AstCreationPassTests "be consistent with long number
                # types")
                lit = N(M.LITERAL, code=arr_size_txt, type_full_name="int",
                        line=name_tok.line, arg_index=1)
                alloc = N(M.CALL, code=self.slice(name_tok, arr_close),
                          name=M.OP_ALLOC, method_full_name=M.OP_ALLOC,
                          dispatch_type=M.STATIC_DISPATCH,
                          type_full_name=ty, line=name_tok.line)
                alloc.add(lit)
                out.append(alloc)
            if self.at("="):
                self.next()
                if self.at("{"):  # brace initializer `int a[10] = {0};`
                    init = self._parse_brace_init(self.next())
                else:
                    init = self.parse_assignment_expr()
                self.note_init_dynamic_type(loc, init)
                if init.kind == M.METHOD_REF and loc.type_full_name == "auto":
                    # `auto x = [](...){...}` — the reference types the
                    # lambda-holding local std.function
                    # (LambdaExpressionTests "be correct when calling a
                    # lambda": Defines.Function)
                    loc.type_full_name = "std.function"
                ident = N(M.IDENTIFIER, code=name, name=name, type_full_name=ty,
                          line=name_tok.line, arg_index=1)
                ident.ref_target = loc
                init.arg_index = 2
                # code is the raw source slice (`b=a` stays `b=a`, matching
                # the reference's CDT-derived code strings)
                call = N(M.CALL, code=self.slice(name_tok, self.toks[self.pos - 1]),
                         name=M.OP_ASSIGNMENT,
                         method_full_name=M.OP_ASSIGNMENT,
                         dispatch_type=M.STATIC_DISPATCH, type_full_name=ty,
                         line=name_tok.line)
                call.add(ident, init)
                out.append(call)
            elif self.at("{") and self.lang == "cpp":
                # designated brace init `Point3D p { .x = 1, ... };`
                # lowers to per-member assignments `p.x = 1`
                # (AstCreationPassTests "designated struct initializers in
                # C++"); non-designated brace inits keep only the local
                init = self._parse_brace_init(self.next())
                for e in init.children:
                    if not (e.kind == M.CALL and e.name == M.OP_ASSIGNMENT
                            and e.children
                            and e.children[0].kind == M.IDENTIFIER):
                        continue
                    fldname = e.children[0].name
                    base = N(M.IDENTIFIER, code=name, name=name,
                             type_full_name=ty, line=name_tok.line,
                             arg_index=1)
                    base.ref_target = loc
                    fld = N(M.FIELD_IDENTIFIER, code=fldname, name=fldname,
                            canonical_name=fldname, line=e.line,
                            arg_index=2)
                    fa = N(M.CALL, code=f"{name}.{fldname}",
                           name=M.OP_FIELD_ACCESS,
                           method_full_name=M.OP_FIELD_ACCESS,
                           dispatch_type=M.STATIC_DISPATCH, line=e.line,
                           arg_index=1)
                    fa.add(base, fld)
                    val = e.children[1]
                    val.arg_index = 2
                    asg = N(M.CALL,
                            code=f"{name}.{fldname} = {val.code}",
                            name=M.OP_ASSIGNMENT,
                            method_full_name=M.OP_ASSIGNMENT,
                            dispatch_type=M.STATIC_DISPATCH, line=e.line)
                    asg.add(fa, val)
                    out.append(asg)
            elif self.at("(") and self.lang == "cpp":
                # parenthesized/ctor initializer `int *val (new int[3]);`
                # lowers to `val = (<expr>)` with the parens kept in the
                # rhs code (AstCreationPassTests "decl assignment with
                # parentheses"); multi-argument ctor initializers keep the
                # skip-only behavior
                open_tok = self.next()
                save = self.pos
                try:
                    init = self.parse_expression()
                    close_tok = self.expect(")")
                except ParseError:
                    self.pos = save
                    depth = 1
                    while self.peek() is not None and depth:
                        v = self.next().v
                        depth += (v == "(") - (v == ")")
                    continue
                init.code = self.slice(open_tok, close_tok)
                ident = N(M.IDENTIFIER, code=name, name=name,
                          type_full_name=ty, line=name_tok.line, arg_index=1)
                ident.ref_target = loc
                init.arg_index = 2
                call = N(M.CALL,
                         code=self.slice(name_tok, close_tok),
                         name=M.OP_ASSIGNMENT,
                         method_full_name=M.OP_ASSIGNMENT,
                         dispatch_type=M.STATIC_DISPATCH, type_full_name=ty,
                         line=name_tok.line)
                call.add(ident, init)
                out.append(call)
            if self.at(","):
                self.next()
                first_declarator = False
                continue
            break
        if consume_semi:
            if not self.at(";"):
                return None
            self.next()
        return out

    # ---------------- expressions ----------------
    PRECEDENCE = {
        "*": 13, "/": 13, "%": 13,
        "+": 12, "-": 12,
        "<<": 11, ">>": 11,
        "<": 10, "<=": 10, ">": 10, ">=": 10,
        "==": 9, "!=": 9,
        "&": 8, "^": 7, "|": 6,
        "&&": 5, "||": 4,
    }
    ASSIGN_OPS = frozenset(("=", "+=", "-=", "*=", "/=", "%=", "<<=", ">>=", "&=", "^=", "|="))

    def parse_expression(self) -> N:
        node = self.parse_assignment_expr()
        if self.lang not in ("c", "cpp") or not self.at(","):
            return node
        # C comma operator: the expression list lowers to a BLOCK holding
        # each sub-expression in order (AstCreationPassTests "expression
        # list" / "not create an expression list for comma operator")
        items = [node]
        while self.at(","):
            self.next()
            items.append(self.parse_assignment_expr())
        blk = N(M.BLOCK, code="", line=node.line, type_full_name=M.ANY)
        blk.add(*items)
        return blk

    def parse_assignment_expr(self) -> N:
        lhs_start = self.peek()
        lhs = self.parse_ternary()
        if self.peek() is not None and self.peek().v in self.ASSIGN_OPS:
            op_tok = self.next()
            rhs = self.parse_assignment_expr()  # right-assoc
            end = self.toks[self.pos - 1]
            opname = M.BINARY_OPERATOR_MAP[op_tok.v]
            lhs.arg_index, rhs.arg_index = 1, 2
            call = N(M.CALL, code=self.slice(lhs_start, end), name=opname,
                     method_full_name=opname, dispatch_type=M.STATIC_DISPATCH,
                     line=op_tok.line, type_full_name=lhs.type_full_name)
            call.add(lhs, rhs)
            return call
        return lhs

    def parse_ternary(self) -> N:
        start = self.peek()
        cond = self.parse_binary(4)
        if self.at("?"):
            q = self.next()
            cond.arg_index = 1
            then = None
            if not self.at(":"):  # GNU `x ? : z`
                then = self.parse_expression()
                then.arg_index = 2
            self.expect(":")
            els = self.parse_ternary()
            els.arg_index = 3
            end = self.toks[self.pos - 1]
            # result type from the first resolved branch (javasrc asserts
            # conditionalExpr.typeFullName, PatternExprTests field-init)
            ty = then.type_full_name if then is not None \
                and then.type_full_name not in (None, "", M.ANY) \
                else els.type_full_name
            call = N(M.CALL, code=self.slice(start, end), name=M.OP_CONDITIONAL,
                     method_full_name=M.OP_CONDITIONAL,
                     dispatch_type=M.STATIC_DISPATCH, line=q.line,
                     type_full_name=ty or M.ANY)
            call.add(cond, then, els)
            return call
        return cond

    def parse_binary(self, min_prec: int) -> N:
        start = self.peek()
        lhs = self.parse_unary()
        return self._binary_climb(lhs, start, min_prec)

    def _binary_climb(self, lhs: N, start, min_prec: int) -> N:
        """Precedence-climb from an already-parsed lhs; the Java frontend
        resumes this after consuming an `instanceof` (whose following
        operators — ==, &&, || — all bind looser)."""
        while True:
            t = self.peek()
            if t is None or t.v not in self.PRECEDENCE or self.PRECEDENCE[t.v] < min_prec:
                return lhs
            op_tok = self.next()
            prec = self.PRECEDENCE[op_tok.v]
            rhs = self.parse_binary(prec + 1)
            end = self.toks[self.pos - 1]
            opname = M.BINARY_OPERATOR_MAP[op_tok.v]
            lhs.arg_index, rhs.arg_index = 1, 2
            call = N(M.CALL, code=self.slice(start, end), name=opname,
                     method_full_name=opname, dispatch_type=M.STATIC_DISPATCH,
                     line=op_tok.line, type_full_name=self.BOOL_OP_TY if op_tok.v in ("<", ">", "<=", ">=", "==", "!=", "&&", "||") else M.ANY)
            call.add(lhs, rhs)
            if self.TRACK_PATTERN_SETS and op_tok.v in ("&&", "||"):
                self._propagate_pattern_sets(call, op_tok.v, lhs, rhs)
            lhs = call

    def parse_unary(self) -> N:
        t = self.peek()
        if t is None:
            raise ParseError("EOF in expression")
        if t.t == "id" and t.v in getattr(self, "macros", ()) \
                and t.v not in getattr(self, "expanding", ()):
            node = self.parse_macro_invocation()
            if node is not None:
                return self.parse_postfix_ops(node, t)
        if t.v == "&&":
            # GNU address-of-label: &&foo
            amp = self.next()
            label_tok = self.next()
            ident = N(M.IDENTIFIER, code=label_tok.v, name=label_tok.v,
                      line=label_tok.line, arg_index=1)
            call = N(M.CALL, code=f"&&{label_tok.v}", name=M.OP_ADDRESS_OF,
                     method_full_name=M.OP_ADDRESS_OF, dispatch_type=M.STATIC_DISPATCH, line=amp.line)
            call.add(ident)
            return call
        if t.v in ("++", "--", "+", "-", "*", "&", "~", "!"):
            op_tok = self.next()
            operand = self.parse_unary()
            end = self.toks[self.pos - 1]
            opname = M.UNARY_OPERATOR_MAP[op_tok.v]
            operand.arg_index = 1
            call = N(M.CALL, code=self.slice(op_tok, end), name=opname,
                     method_full_name=opname, dispatch_type=M.STATIC_DISPATCH, line=op_tok.line)
            call.add(operand)
            return call
        if t.v == "sizeof":
            op_tok = self.next()
            if self.at("("):
                self.next()
                if self.looks_like_type():
                    ty_start = self.peek()
                    ty = self.parse_type()
                    raw_ty = self.slice(ty_start, self.toks[self.pos - 1])
                    close = self.expect(")")
                    # c2cpg spells sizeof-on-type args as IDENTIFIERs
                    # named after the raw type ("be correct for sizeof
                    # expressions": i.name == "int")
                    arg = N(M.IDENTIFIER, code=raw_ty, name=raw_ty,
                            type_full_name=ty, line=op_tok.line, arg_index=1)
                else:
                    arg = self.parse_expression()
                    arg.arg_index = 1
                    close = self.expect(")")
            else:
                arg = self.parse_unary()
                arg.arg_index = 1
                close = self.toks[self.pos - 1]
            call = N(M.CALL, code=self.slice(op_tok, close), name=M.OP_SIZEOF,
                     method_full_name=M.OP_SIZEOF, dispatch_type=M.STATIC_DISPATCH, line=op_tok.line)
            call.add(arg)
            return call
        if t.v == "new" and self.lang == "cpp":
            op_tok = self.next()
            ty = self.parse_type()
            if self.at("["):
                # array new `new int[n]` -> <operator>.new wrapping an
                # <operator>.alloc whose args are the element TYPE_REF and
                # the size expression (AstCreationPassTests "'new' array")
                self.next()
                size = self.parse_expression()
                close = self.expect("]")
                code = self.slice(op_tok, close)
                tref = N(M.TYPE_REF, code=ty, type_full_name=ty,
                         line=op_tok.line, arg_index=1)
                size.arg_index = 2
                alloc = N(M.CALL, code=code, name=M.OP_ALLOC,
                          method_full_name=M.OP_ALLOC,
                          dispatch_type=M.STATIC_DISPATCH,
                          type_full_name=M.ANY, line=op_tok.line,
                          arg_index=1)
                alloc.add(tref, size)
                outer = N(M.CALL, code=code, name=M.OP_NEW,
                          method_full_name=M.OP_NEW,
                          dispatch_type=M.STATIC_DISPATCH,
                          type_full_name=ty, line=op_tok.line)
                outer.add(alloc)
                return outer
            args: list[N] = []
            had_parens = False
            if self.at("("):
                had_parens = True
                self.next()
                while not self.at(")"):
                    a = self.parse_assignment_expr()
                    args.append(a)
                    if self.at(","):
                        self.next()
                self.next()
            end = self.toks[self.pos - 1]
            code = self.slice(op_tok, end)
            ctor = self.cpp_class_methods.get(ty, {}).get(ty.split(".")[-1])
            if had_parens and ctor is not None:
                # declared-class `new Foo(n, 42)` lowers to the reference's
                # block form: <operator>.new( BLOCK{ <tmp>N local;
                # <tmp>N = <operator>.alloc; Foo(&<tmp>N, args); <tmp>N } )
                # (AstCreationPassTests "'new' object" / "placement new")
                return self._new_object_block(op_tok, ty, ctor, args, code)
            call = N(M.CALL, code=code, name=M.OP_NEW,
                     method_full_name=M.OP_NEW, dispatch_type=M.STATIC_DISPATCH,
                     line=op_tok.line, type_full_name=ty)
            tref = N(M.TYPE_REF, code=ty, type_full_name=ty, line=op_tok.line, arg_index=1)
            call.add(tref)
            for i, a in enumerate(args, start=2):
                a.arg_index = i
                call.add(a)
            return call
        if t.v == "delete" and self.lang == "cpp":
            op_tok = self.next()
            if self.at("["):
                self.skip_balanced("[", "]")
            operand = self.parse_unary()
            end = self.toks[self.pos - 1]
            operand.arg_index = 1
            call = N(M.CALL, code=self.slice(op_tok, end), name=M.OP_DELETE,
                     method_full_name=M.OP_DELETE, dispatch_type=M.STATIC_DISPATCH, line=op_tok.line)
            call.add(operand)
            return call
        if t.v == "(":
            # cast or parenthesized expression
            save = self.pos
            self.next()
            if self.at("{") and self.lang in ("c", "cpp"):
                # GNU statement expression `({int y = 1; y;})` — a BLOCK
                # whose trailing expression is its value
                # (AstCreationPassTests "compound statement expressions")
                blk = self.parse_compound()
                self.expect(")")
                return self.parse_postfix_ops(blk, t)
            if self.looks_like_type():
                ty_start = self.peek()
                ty = self.parse_type()
                raw_ty = self.slice(ty_start, self.toks[self.pos - 1]) \
                    if ty_start is not None else ty
                if self.at(")"):
                    self.next()
                    # compound literal `(int){ 1 }` — a cast whose second
                    # argument is the brace initializer (AstCreationPass-
                    # Tests "type initializer expression")
                    if self.at("{"):
                        b0 = self.peek()
                        self.skip_balanced("{", "}")
                        b1 = self.toks[self.pos - 1]
                        tref = N(M.TYPE_REF, code=raw_ty, type_full_name=ty,
                                 line=t.line, arg_index=1)
                        init = N(M.BLOCK, code=self.src[b0.a:b1.b],
                                 line=b0.line, arg_index=2,
                                 type_full_name=ty)
                        call = N(M.CALL, code=self.slice(t, b1),
                                 name=M.OP_CAST, method_full_name=M.OP_CAST,
                                 dispatch_type=M.STATIC_DISPATCH,
                                 line=t.line, type_full_name=ty)
                        call.add(tref, init)
                        return call
                    # must be followed by something castable
                    nxt = self.peek()
                    if nxt is not None and (nxt.t in ("id", "num", "str", "char") or nxt.v in ("(", "*", "&", "!", "~", "-", "+")):
                        operand = self.parse_unary()
                        end = self.toks[self.pos - 1]
                        tref = N(M.TYPE_REF, code=raw_ty, type_full_name=ty, line=t.line, arg_index=1)
                        operand.arg_index = 2
                        call = N(M.CALL, code=self.slice(t, end), name=M.OP_CAST,
                                 method_full_name=M.OP_CAST, dispatch_type=M.STATIC_DISPATCH,
                                 line=t.line, type_full_name=ty)
                        call.add(tref, operand)
                        return call
            self.pos = save
            self.next()
            seq_start = self.peek()
            inner = self.parse_expression()
            if self.at(","):
                seq_node = self.parse_comma_sequence(inner, seq_start)
                if seq_node is not None:
                    self.expect(")")
                    return self.parse_postfix_ops(seq_node, t)
            self.expect(")")
            return self.parse_postfix_ops(inner, t)
        return self.parse_postfix()

    def parse_comma_sequence(self, first: "N", start: "Tok") -> "N | None":
        """Language hook for `(e1, e2, ...)` sequence expressions; the base
        C parser keeps its old behavior (comma inside parens is an error)."""
        return None

    def unresolved_ident_type(self, name: str) -> str:
        """Language hook: type of an identifier with no declaration in
        scope. Java resolves class-name receivers (`Foo.MAX_VALUE` ->
        identifier Foo typed Foo, FieldAccessTests.scala:46-52)."""
        return M.ANY

    def method_ref_expr(self, t: "Tok") -> "N | None":
        """Language hook at `<ident> ::`: Java builds a METHOD_REF
        (`Bar::bar`, MethodRefTests.scala); C++ returns None and keeps the
        qualified-name loop."""
        return None

    def note_init_dynamic_type(self, decl: "N", init: "N") -> None:
        """Language hook: a declaration initialized from a constructor call
        records the constructed type as the declaration's dynamic type
        (javasrc resolves receiver calls through it — anonymous classes)."""
        return None

    def identifier_expr(self, node: "N") -> "N":
        """Language hook on a freshly built identifier expression: Java
        wraps bare instance-member reads into `this.<field>` fieldAccess;
        C++ wraps them into `this->member` indirectFieldAccess (c2cpg
        implicit member access, ClassTypeTests "this->b")."""
        if self.lang != "cpp" or node.ref_target is not None \
                or not self.cpp_members:
            return node
        cls_full, env = self.cpp_members[-1]
        ty = env.get(node.name)
        if ty is None:
            return node
        this_decl = self.lookup("this")
        if this_decl is None:
            return node  # static member function — no implicit this
        base = N(M.IDENTIFIER, code="this", name="this", line=node.line,
                 type_full_name=this_decl.type_full_name)
        base.ref_target = this_decl
        base.arg_index = 1
        fld = N(M.FIELD_IDENTIFIER, code=node.name, name=node.name,
                canonical_name=node.name, line=node.line, arg_index=2)
        fa = N(M.CALL, code=f"this->{node.name}",
               name=M.OP_INDIRECT_FIELD_ACCESS,
               method_full_name=M.OP_INDIRECT_FIELD_ACCESS,
               dispatch_type=M.STATIC_DISPATCH, line=node.line,
               type_full_name=ty)
        fa.add(base, fld)
        return fa

    def make_literal(self, t: "Tok") -> "N | None":
        """Language hook: literal token -> LITERAL node (or None for
        non-literals). C/C++ typing here; Java overrides suffix/boolean/
        String rules (LiteralTests.scala)."""
        if t.t == "num":
            return N(M.LITERAL, code=t.v, line=t.line,
                     type_full_name="double" if ("." in t.v or "e" in t.v.lower() and not t.v.lower().startswith("0x")) else "int")
        if t.t == "str":
            return N(M.LITERAL, code=t.v, line=t.line, type_full_name="char*")
        if t.t == "char":
            return N(M.LITERAL, code=t.v, line=t.line, type_full_name="char")
        if t.v in ("true", "false", "nullptr", "NULL"):
            # NULL is a macro expanding to a literal — CDT (with macro
            # handling) emits a LITERAL here, so do we
            return N(M.LITERAL, code=t.v, line=t.line,
                     type_full_name="bool" if t.v in ("true", "false") else M.ANY)
        return None

    def parse_postfix(self) -> N:
        t = self.next()
        lit = self.make_literal(t)
        if lit is not None:
            node = lit
        elif t.v == "this":
            node = self.this_expr(t)
        elif t.v == "::" and self.peek() is not None \
                and self.peek().t == "id":
            # global-namespace qualifier `::square(10)` — the name is the
            # unqualified global (c2cpg CallTest 3)
            t = self.next()
            node = N(M.IDENTIFIER, code=t.v, name=t.v, line=t.line,
                     type_full_name=M.ANY)
        elif t.t == "id" or t.t == "kw":
            name = t.v
            if self.lang == "cpp" and self.at("<") \
                    and name in ("const_cast", "static_cast", "dynamic_cast",
                                 "reinterpret_cast"):
                # C++ named casts lower to <operator>.cast with the raw
                # type spelling on the TYPE_REF (AstCreationPassTests
                # "be correct for const_cast/static_cast/...")
                self.next()
                ty_start = self.peek()
                ty = self.parse_type()
                raw_ty = self.slice(ty_start, self.toks[self.pos - 1]) \
                    if ty_start is not None else ty
                self.expect(">")
                self.expect("(")
                operand = self.parse_expression()
                close = self.expect(")")
                tref = N(M.TYPE_REF, code=raw_ty, type_full_name=ty,
                         line=t.line, arg_index=1)
                operand.arg_index = 2
                call = N(M.CALL, code=self.slice(t, close), name=M.OP_CAST,
                         method_full_name=M.OP_CAST,
                         dispatch_type=M.STATIC_DISPATCH, line=t.line,
                         type_full_name=ty)
                call.add(tref, operand)
                return self.parse_postfix_ops(call, t)
            if self.lang == "cpp" and self.at("{") \
                    and t.t == "id":
                cls_full = self.declared_types.get(name, name)
                ctor = self.cpp_class_methods.get(cls_full, {}).get(name)
                if ctor is not None:
                    # brace constructor expression `Foo{0}` — same block
                    # lowering as `new`, minus the <operator>.new wrapper
                    # (AstCreationPassTests "constructor expression")
                    self.next()
                    args = []
                    while self.peek() is not None and not self.at("}"):
                        args.append(self.parse_assignment_expr())
                        if self.at(","):
                            self.next()
                    close = self.expect("}")
                    code = self.slice(t, close)
                    outer = self._new_object_block(t, cls_full, ctor, args,
                                                   code)
                    blk = outer.children[0]
                    blk.arg_index = -1
                    return blk
            if self.lang == "cpp" and name == "decltype" and self.at("("):
                # `decltype(expr)` -> <operator>.typeOf CALL; a following
                # `::member` chains through the fieldAccess postfix
                # (AstCreationPassTests "decl assignment with typedecl")
                self.next()
                inner = self.parse_expression()
                close = self.expect(")")
                node = N(M.CALL, code=self.slice(t, close), name=M.OP_TYPE_OF,
                         method_full_name=M.OP_TYPE_OF,
                         dispatch_type=M.STATIC_DISPATCH, line=t.line)
                inner.arg_index = 1
                node.add(inner)
                return self.parse_postfix_ops(node, t)
            if self.at("::"):
                mr = self.method_ref_expr(t)
                if mr is not None:
                    return mr
                # qualified CALLS (`A::B::f(...)`) keep the merged dotted
                # callee; plain qualified READS stay a bare identifier and
                # the `::` postfix builds the nested fieldAccess chain
                # c2cpg emits (AstCreationPassTests "qualified name with
                # multiple :: parts")
                k = 0
                while self.at("::", k) and self.peek(k + 1) is not None \
                        and self.peek(k + 1).t == "id":
                    k += 2
                if self.lang in ("c", "cpp") and not self.at("(", k):
                    decl = self.lookup(name)
                    node = N(M.IDENTIFIER, code=t.v, name=name, line=t.line,
                             type_full_name=(decl.type_full_name
                                             if decl is not None else M.ANY))
                    if decl is not None:
                        node.ref_target = decl
                    return self.parse_postfix_ops(node, t)
            while self.at("::"):
                self.next()
                name += "." + self.next().v
            decl = self.lookup(name)
            node = N(M.IDENTIFIER, code=t.v if "." not in name else name, name=name, line=t.line,
                     type_full_name=(decl.type_full_name if decl is not None
                                     else self.unresolved_ident_type(name)))
            if decl is not None:
                node.ref_target = decl
            else:
                self.on_unresolved_identifier(node)
            node = self.identifier_expr(node)
        elif t.v == "[" and self.lang == "cpp":
            node = self.parse_cpp_lambda(t)
        else:
            raise ParseError(f"unexpected token {t.v!r} in expression at line {t.line}")
        return self.parse_postfix_ops(node, t)

    def parse_cpp_lambda(self, open_tok: "Tok") -> "N":
        """C++ lambda `[captures](params) [mutable] [-> ret] { body }` —
        METHOD named `<lambda>N` with the reference's fullname scheme
        `{path}:<global>.{enclosing}.<lambda>N:{sig}`; explicit captures
        become LOCALs at the body start; the expression value is a
        METHOD_REF (c2cpg LambdaExpressionTests)."""
        captures: list[str] = []
        while self.peek() is not None and not self.at("]"):
            tok = self.next()
            if tok.t == "id":
                captures.append(tok.v)
        if self.at("]"):
            self.next()
        params: list[tuple[str, str, str]] = []  # (type, name, raw)
        if self.at("("):
            self.next()
            while self.peek() is not None and not self.at(")"):
                p0 = self.peek()
                pty = self.parse_type()
                pname = ""
                if self.peek() is not None and self.peek().t == "id":
                    pname = self.next().v
                p1 = self.toks[self.pos - 1]
                params.append((pty, pname, self.src[p0.a:p1.b].strip()))
                if self.at(","):
                    self.next()
            if self.at(")"):
                self.next()
        while self.at_any(("mutable", "constexpr", "noexcept")):
            self.next()
        ret_ty = M.ANY
        if self.at("->"):
            self.next()
            ret_ty = self.parse_type()
        self.cpp_lambda_n = getattr(self, "cpp_lambda_n", 0)
        lam = f"{M.LAMBDA_PREFIX}{self.cpp_lambda_n}"
        self.cpp_lambda_n += 1
        sig = f"{ret_ty}({','.join(p[0] for p in params)})"
        # global_block already spells "{path}:<global>"
        encl = ".".join([self.global_block] + [p for p in self.ns if p]
                        + getattr(self, "cpp_method_stack", []))
        full = f"{encl}.{lam}:{sig}"
        method = N(M.METHOD, code="<lambda>", name=lam, full_name=full,
                   signature=sig, line=open_tok.line,
                   ast_parent_type=M.METHOD,
                   ast_parent_full_name=encl)
        self.push_scope()
        # explicit captures become LOCALs at the body start, typed from
        # the captured declaration when known
        cap_locals: list[N] = []
        for cname in captures:
            d = self.lookup(cname)
            loc = N(M.LOCAL, code=cname, name=cname,
                    type_full_name=(d.type_full_name if d is not None
                                    else M.ANY), line=open_tok.line)
            cap_locals.append(loc)
            self.declare(cname, loc)
        for i, (pty, pname, raw) in enumerate(params, start=1):
            p = N(M.METHOD_PARAMETER_IN, code=raw, name=pname,
                  type_full_name=pty, param_index=i, line=open_tok.line,
                  evaluation_strategy=M.BY_VALUE)
            method.add(p)
            if pname:
                self.declare(pname, p)
        if self.at("{"):
            blk = self.parse_compound()
        else:
            blk = N(M.BLOCK, code="", line=open_tok.line,
                    type_full_name="void")
        blk.children[:0] = cap_locals
        method.add(blk)
        if ret_ty == M.ANY:
            # inferred return type from a literal/typed return expression
            # (LambdaExpressionTests "different return type annotations":
            # `[] () { return 1; }` -> int())
            has_value_return = False
            for st_node in blk.children:
                if st_node.kind == M.RETURN and st_node.children:
                    has_value_return = True
                    t0 = st_node.children[0].type_full_name
                    if t0 and t0 != M.ANY:
                        ret_ty = t0
                        break
            if ret_ty == M.ANY and not has_value_return:
                # no value-returning statement: the lambda is void
                # (CallTests "call on lambda function without explicit
                # return type": <operator>():void(int))
                ret_ty = "void"
            sig = f"{ret_ty}({','.join(p[0] for p in params)})"
            full = f"{encl}.{lam}:{sig}"
            method.full_name = full
            method.signature = sig
        method.add(N(M.METHOD_RETURN, code="RET", type_full_name=ret_ty,
                     evaluation_strategy=M.BY_VALUE, line=open_tok.line))
        self.pop_scope()
        ref = N(M.METHOD_REF, code="<lambda>", method_full_name=full,
                type_full_name=full, line=open_tok.line)
        ref.add(method)
        return ref

    def _new_object_block(self, op_tok: "Tok", ty: str, ctor, args: list,
                          code: str) -> "N":
        """`new Foo(n, 42)` on a declared class — the c2cpg lowering: the
        <operator>.new call's first argument is a BLOCK holding a `<tmp>N`
        local, `<tmp>N = <operator>.alloc`, the resolved constructor call
        (receiver `&<tmp>N`), and the `<tmp>N` value identifier
        (AstCreationPassTests "'new' object": constructorCall mfn
        Foo.Foo:void(int,int), args [&<tmp>0, n, 42])."""
        ctor_full, ctor_sig, _ret = ctor
        self.cpp_tmp_n = getattr(self, "cpp_tmp_n", 0)
        tmp = f"<tmp>{self.cpp_tmp_n}"
        self.cpp_tmp_n += 1
        line = op_tok.line
        blk = N(M.BLOCK, code="", line=line, type_full_name=ty,
                arg_index=1)
        tmp_loc = N(M.LOCAL, code=tmp, name=tmp, type_full_name=ty,
                    line=line)
        blk.add(tmp_loc)
        tmp_id = N(M.IDENTIFIER, code=tmp, name=tmp, type_full_name=ty,
                   arg_index=1, line=line)
        tmp_id.ref_target = tmp_loc
        alloc = N(M.CALL, code=M.OP_ALLOC, name=M.OP_ALLOC,
                  method_full_name=M.OP_ALLOC,
                  dispatch_type=M.STATIC_DISPATCH, type_full_name=ty,
                  line=line, arg_index=2)
        tasg = N(M.CALL, code=f"{tmp} = {M.OP_ALLOC}", name=M.OP_ASSIGNMENT,
                 method_full_name=M.OP_ASSIGNMENT,
                 dispatch_type=M.STATIC_DISPATCH, type_full_name=ty,
                 line=line)
        tasg.add(tmp_id, alloc)
        blk.add(tasg)
        recv_id = N(M.IDENTIFIER, code=tmp, name=tmp, type_full_name=ty,
                    line=line, arg_index=1)
        recv_id.ref_target = tmp_loc
        recv = N(M.CALL, code=f"&{tmp}", name=M.OP_ADDRESS_OF,
                 method_full_name=M.OP_ADDRESS_OF,
                 dispatch_type=M.STATIC_DISPATCH, line=line, arg_index=0)
        recv.add(recv_id)
        ctor_call = N(M.CALL, code=code, name=ty.split(".")[-1],
                      method_full_name=ctor_full, signature=ctor_sig,
                      dispatch_type=M.STATIC_DISPATCH,
                      type_full_name="void", line=line)
        ctor_call.add(recv)
        for i, a in enumerate(args, start=1):
            a.arg_index = i
            ctor_call.add(a)
        blk.add(ctor_call)
        val_id = N(M.IDENTIFIER, code=tmp, name=tmp, type_full_name=ty,
                   line=line)
        val_id.ref_target = tmp_loc
        blk.add(val_id)
        outer = N(M.CALL, code=code, name=M.OP_NEW,
                  method_full_name=M.OP_NEW,
                  dispatch_type=M.STATIC_DISPATCH, type_full_name=ty,
                  line=line)
        outer.add(blk)
        return outer

    def _parse_asm(self, t: "Tok") -> "N":
        """`asm( ... )` (statement or top-level) -> an UNKNOWN node whose
        code keeps the raw source (AstCreationPassTests "embedded ASM
        code"/"embedded ASM calls": code startsWith "asm(")."""
        self.next()
        self.skip_balanced("(", ")")
        end = self.toks[self.pos - 1]
        if self.at(";"):
            self.next()
        return N(M.UNKNOWN, code=self.slice(t, end), line=t.line)

    def _parse_brace_init(self, open_tok: "Tok") -> "N":
        """Brace initializer `{ e, ... }` -> <operator>.arrayInitializer;
        designated elements (`[1] = 5`, `[3 ... 9] = 15`, `.a = 1`)
        become assignment children with raw-sliced codes
        (AstCreationPassTests "designated initializers ...")."""
        elems: list[N] = []
        while self.peek() is not None and not self.at("}"):
            e0 = self.peek()
            if self.at("["):
                self.next()
                lo = self.parse_assignment_expr()
                if self.at("..."):
                    self.next()
                    hi = self.parse_assignment_expr()
                    rb = self.expect("]")
                    lo.arg_index, hi.arg_index = 1, 2
                    des = N(M.CALL, code=self.slice(e0, rb),
                            name=M.OP_ARRAY_INITIALIZER,
                            method_full_name=M.OP_ARRAY_INITIALIZER,
                            dispatch_type=M.STATIC_DISPATCH, line=e0.line)
                    des.add(lo, hi)
                else:
                    self.expect("]")
                    des = lo
                self.expect("=")
                val = self.parse_assignment_expr()
                end = self.toks[self.pos - 1]
                des.arg_index, val.arg_index = 1, 2
                asg = N(M.CALL, code=self.slice(e0, end),
                        name=M.OP_ASSIGNMENT,
                        method_full_name=M.OP_ASSIGNMENT,
                        dispatch_type=M.STATIC_DISPATCH, line=e0.line)
                asg.add(des, val)
                elems.append(asg)
            elif self.at(".") and self.peek(1) is not None \
                    and self.peek(1).t == "id":
                self.next()
                fld_tok = self.next()
                fld = N(M.IDENTIFIER, code=fld_tok.v, name=fld_tok.v,
                        line=fld_tok.line, arg_index=1)
                self.expect("=")
                val = self.parse_assignment_expr()
                end = self.toks[self.pos - 1]
                val.arg_index = 2
                asg = N(M.CALL, code=self.slice(e0, end),
                        name=M.OP_ASSIGNMENT,
                        method_full_name=M.OP_ASSIGNMENT,
                        dispatch_type=M.STATIC_DISPATCH, line=e0.line)
                asg.add(fld, val)
                elems.append(asg)
            else:
                elems.append(self.parse_assignment_expr())
            if self.at(","):
                self.next()
        close_tok = self.expect("}")
        init = N(M.CALL, code=self.slice(open_tok, close_tok),
                 name=M.OP_ARRAY_INITIALIZER,
                 method_full_name=M.OP_ARRAY_INITIALIZER,
                 dispatch_type=M.STATIC_DISPATCH, line=open_tok.line)
        for i, e in enumerate(elems, start=1):
            e.arg_index = i
            init.add(e)
        return init

    def _array_dim_suffix(self) -> str:
        """Consume one `[...]` declarator dimension; returns `[<size>]`
        with object-like macros expanded (`[BUFSIZE]` -> `[0x111...]`,
        AstCreationPassTests "be consistent with long number types") or
        `[]` when empty."""
        self.next()
        depth, parts = 1, []
        while self.peek() is not None and depth:
            tk = self.next()
            if tk.v == "[":
                depth += 1
            elif tk.v == "]":
                depth -= 1
                if depth == 0:
                    break
            mac = self.macros.get(tk.v) if tk.t == "id" else None
            parts.append(mac.body if mac is not None and not mac.params
                         else tk.v)
        return "[" + "".join(parts) + "]"

    def parse_postfix_ops(self, node: N, start: Tok) -> N:
        while True:
            if self.at("("):
                node = self.build_call(node, start)
            elif self.at("["):
                self.next()
                idx = self.parse_expression()
                close = self.expect("]")
                # c2cpg lowers EVERY array subscript to indirectIndexAccess
                # (AstForExpressionsCreator.scala:440-441), regardless of the
                # base's static type — `p[0]` must alias `*p` downstream.
                # Java/JS use plain indexAccess (ArrayTests.scala:115-116;
                # jssrc createIndexAccessCallAst) via SUBSCRIPT_OP.
                opname = self.SUBSCRIPT_OP
                node.arg_index, idx.arg_index = 1, 2
                call = N(M.CALL, code=self.slice(start, close), name=opname,
                         method_full_name=opname, dispatch_type=M.STATIC_DISPATCH, line=start.line)
                call.add(node, idx)
                node = call
            elif self.at(".") or (self.ARROW_MEMBER and self.at("->")):
                arrow = self.next().v == "->"
                qnew = self.try_qualified_new(node, start)
                if qnew is not None:  # Java `outer.new Inner(...)`
                    node = qnew
                    continue
                self.skip_explicit_type_args()  # Java `x.<T>m()` — no-op here
                fld_tok = self.next()
                if self.at("("):
                    # member call: receiver.method(args)
                    node = self.build_member_call(node, fld_tok, start, arrow)
                    continue
                opname = M.OP_INDIRECT_FIELD_ACCESS if arrow else M.OP_FIELD_ACCESS
                fld = N(M.FIELD_IDENTIFIER, code=fld_tok.v, name=fld_tok.v,
                        canonical_name=fld_tok.v, line=fld_tok.line, arg_index=2)
                node.arg_index = 1
                call = N(M.CALL, code=self.slice(start, fld_tok), name=opname,
                         method_full_name=opname, dispatch_type=M.STATIC_DISPATCH, line=start.line)
                call.add(node, fld)
                node = self.lower_field_access(call)
            elif self.lang in ("c", "cpp") and self.at("::") \
                    and self.peek(1) is not None and self.peek(1).t == "id" \
                    and not self.at("(", 2):
                # qualified static read `Base::member` -> fieldAccess with
                # the `::`-spelled code; chains nest left-to-right
                # (AstCreationPassTests "qualified name with two :: parts")
                self.next()
                fld_tok = self.next()
                fld = N(M.FIELD_IDENTIFIER, code=fld_tok.v, name=fld_tok.v,
                        canonical_name=fld_tok.v, line=fld_tok.line,
                        arg_index=2)
                node.arg_index = 1
                call = N(M.CALL, code=self.slice(start, fld_tok),
                         name=M.OP_FIELD_ACCESS,
                         method_full_name=M.OP_FIELD_ACCESS,
                         dispatch_type=M.STATIC_DISPATCH, line=start.line)
                call.add(node, fld)
                node = call
            elif self.at("...") and self.lang == "cpp" \
                    and node.kind == M.IDENTIFIER \
                    and self.peek(1) is not None \
                    and self.peek(1).v in (")", ","):
                # pack expansion `args...` in an argument list — the
                # identifier keeps its own code (AstCreationPassTests
                # "call with pack expansion"); designator ranges
                # (`[3 ... 9]`) must NOT be swallowed
                self.next()
            elif self.at("++") or self.at("--"):
                op_tok = self.next()
                opname = M.POSTFIX_OPERATOR_MAP[op_tok.v]
                node.arg_index = 1
                call = N(M.CALL, code=self.slice(start, op_tok), name=opname,
                         method_full_name=opname, dispatch_type=M.STATIC_DISPATCH, line=start.line)
                call.add(node)
                node = call
            else:
                tagged = self.try_tagged_template(node, start)
                if tagged is not None:
                    node = tagged
                    continue
                cast = self.try_as_cast(node, start)
                if cast is not None:
                    node = cast
                    continue
                return node

    def try_tagged_template(self, node: "N", start: "Tok") -> "N | None":
        r"""JS hook: `tag\`...\`` tagged template calls; no-op for C."""
        return None

    def try_as_cast(self, node: "N", start: "Tok") -> "N | None":
        """TS hook: `expr as Type` casts; no-op for C."""
        return None

    def try_qualified_new(self, node: "N", start: "Tok") -> "N | None":
        """Java hook: `outer.new Inner(...)`; no-op for C."""
        return None

    def skip_explicit_type_args(self) -> None:
        """Java hook: explicit type arguments in `recv.<T1,T2>method(...)`
        are consumed (erasure drops them); no-op for C/JS where `.<` cannot
        start a member access."""
        return None

    def this_expr(self, t: Tok) -> N:
        """C++: `this` is a pointer to the enclosing class; javasrc
        overrides with the scoped `this` parameter (value semantics)."""
        return N(M.IDENTIFIER, code="this", name="this", line=t.line,
                 type_full_name=(self.ns[-1] + "*") if self.ns else M.ANY)

    # ---------------- macro expansion (MacroHandler.scala:31-118) -----------

    def _macro_subparser(self, text: str) -> "CParser":
        """Child parser over expansion/argument text sharing scope + macro
        state with this parser (refs inside expansions resolve in context)."""
        sub = CParser(text, self.path, self.lang)
        sub.scopes = self.scopes
        sub.ns = self.ns
        sub.typedefs = self.typedefs
        sub.declared_types = self.declared_types
        sub.macros = self.macros
        sub.expanding = self.expanding
        sub.in_expansion = True
        sub.macro_methods = self.macro_methods
        sub.macro_stubbed = self.macro_stubbed
        return sub

    def _parse_fragment(self, text: str, line: int) -> N | None:
        """Parse macro-expansion text: as one expression if possible, else as
        a statement list wrapped in a BLOCK (do-while macro bodies)."""
        try:
            sub = self._macro_subparser(text)
            node = sub.parse_expression()
            if sub.peek() is not None:
                raise ParseError("trailing tokens after expression")
            return node
        except (ParseError, RecursionError, IndexError):
            pass
        sub = self._macro_subparser(text)
        blk = N(M.BLOCK, code="", line=line, type_full_name="void")
        while sub.peek() is not None:
            blk.add(*sub.parse_statement())
        return blk if blk.children else None

    def parse_macro_invocation(self) -> N | None:
        """Expand a macro use: the expansion parses in scope (its nodes join
        the graph as normal STATIC_DISPATCH lowering), wrapped under a CALL
        named after the macro with INLINED dispatch and the raw invocation
        text as code; the macro also gets a METHOD stub
        (MacroHandlingTests.scala:27-73, fullname `<file>:NAME:ANY(n)`)."""
        name_tok = self.peek()
        mac = self.macros[name_tok.v]
        if mac.params is not None and not self.at("(", 1):
            return None  # function-like macro without args is not expanded
        self.next()
        end_tok = name_tok
        arg_texts: list[str] = []
        if mac.params is not None:
            self.next()  # (
            # argument commas split only at depth 1, where depth counts ALL
            # bracket kinds — commas inside braces/brackets (compound
            # literals `M((struct S){1,2})`, array subscripts) must not
            # split; empty token runs become empty-string arguments so
            # zip(params, args) stays aligned for `M(a,,b)` / `M()`
            depth, cur = 1, []
            while True:
                tok = self.next()
                if tok.v in ("(", "[", "{"):
                    depth += 1
                elif tok.v in (")", "]", "}"):
                    depth -= 1
                    if depth == 0:
                        arg_texts.append(
                            self.src[cur[0].a:cur[-1].b] if cur else "")
                        end_tok = tok
                        break
                elif tok.v == "," and depth == 1:
                    arg_texts.append(
                        self.src[cur[0].a:cur[-1].b] if cur else "")
                    cur = []
                    continue
                cur.append(tok)
            if arg_texts == [""] and not mac.params:
                arg_texts = []  # `M()` on a zero-param macro has zero args
        raw = self.slice(name_tok, end_tok)
        n_args = len(arg_texts)

        body = mac.body
        if mac.params:
            body = substitute_params(body, mac.params, arg_texts,
                                     self.KEYWORD_SET)
        expansion = None
        if body.strip():
            self.expanding.add(mac.name)
            try:
                expansion = self._parse_fragment(body, name_tok.line)
            except (ParseError, RecursionError, IndexError):
                expansion = None  # unparseable expansion: keep the bare call
            finally:
                self.expanding.discard(mac.name)

        if self.in_expansion:
            # a nested macro inside another expansion inlines WITHOUT its own
            # call wrapper (MacroHandler.extractMatchingMacro filters nodes
            # whose parent is expanded from the same location)
            if expansion is not None:
                return expansion
            return N(M.IDENTIFIER, code=raw, name=mac.name,
                     line=name_tok.line, type_full_name=M.ANY)

        sig = f"{M.ANY}({n_args})"
        mfn = f"{self.path}:{mac.name}:{sig}"
        call = N(M.CALL, code=raw, name=mac.name, method_full_name=mfn,
                 signature=sig, dispatch_type=M.INLINED, line=name_tok.line,
                 type_full_name=M.ANY)
        for i, at_ in enumerate(arg_texts, start=1):
            try:
                sub = self._macro_subparser(at_)
                a = sub.parse_expression()
                if sub.peek() is not None:
                    raise ParseError("trailing tokens in macro argument")
            except (ParseError, RecursionError, IndexError):
                a = N(M.UNKNOWN, code=at_, line=name_tok.line)
            a.arg_index = i
            call.add(a)
        if expansion is not None:
            if expansion.kind != M.BLOCK:
                blk = N(M.BLOCK, code="", line=name_tok.line,
                        type_full_name="void")
                blk.add(expansion)
                expansion = blk
            # AST child only — no ARGUMENT edge: the reference connects the
            # expansion via withChild, so `.argument` yields only macro args
            expansion.arg_index = -1
            call.add(expansion)
        if mfn not in self.macro_stubbed:
            self.macro_stubbed.add(mfn)
            m = N(M.METHOD, code=mac.code, name=mac.name, full_name=mfn,
                  signature=sig, line=mac.line,
                  ast_parent_type=M.NAMESPACE_BLOCK,
                  ast_parent_full_name=self.global_block)
            for i in range(1, n_args + 1):
                m.add(N(M.METHOD_PARAMETER_IN, code=f"p{i}", name=f"p{i}",
                        type_full_name=M.ANY, param_index=i, line=mac.line,
                        evaluation_strategy=M.BY_VALUE))
            m.add(N(M.METHOD_RETURN, code="RET", type_full_name=M.ANY,
                    evaluation_strategy=M.BY_VALUE, line=mac.line))
            self.macro_methods.append(m)
        return call

    def build_call(self, callee: N, start: Tok) -> N:
        self.next()  # (
        args: list[N] = []
        while not self.at(")"):
            a = self.parse_assignment_expr()
            args.append(a)
            if self.at(","):
                self.next()
        close = self.expect(")")
        if callee.kind == M.IDENTIFIER and callee.ref_target is None:
            # direct named call — static dispatch, methodFullName = name (C);
            # C++ known free functions carry `name:signature`
            # (AstCreationPassTests "variadic parameter in C++":
            # foo:int(char*,...))
            name = callee.name
            full, sig = name, ""
            if name == "static_assert" and self.lang in ("c", "cpp"):
                # <operator>.staticAssert (AstCreationPassTests
                # "static assert")
                name = full = M.OP + "staticAssert"
            elif self.lang == "cpp":
                info = self.cpp_free_funcs.get(name)
                if info is not None:
                    full, sig = info
                elif "." in name:
                    # qualified member call `A::square(10)` resolves
                    # through the class-method table (c2cpg CallTest 4:
                    # A.square:int(int))
                    cls, _, mname = name.rpartition(".")
                    cand = self.declared_types.get(cls, cls)
                    m = self.cpp_class_methods.get(cand, {}).get(mname)
                    if m is not None:
                        full, sig = m[0], m[1]
            disp_name = name if name.startswith(M.OP) else name.split(".")[-1]
            call = N(M.CALL, code=self.slice(start, close), name=disp_name,
                     method_full_name=full, signature=sig,
                     dispatch_type=M.STATIC_DISPATCH, line=start.line)
        else:
            # call through expression / function pointer — C/C++ spell
            # <operator>.pointerCall (Defines.OperatorPointerCall;
            # AstCreationPassTests "indirection on call")
            callee.role = M.ROLE_RECEIVER
            callee.arg_index = 0
            ret_ty = None
            if callee.kind == M.METHOD_REF and self.lang == "cpp" \
                    and ":" in (callee.method_full_name or ""):
                # direct lambda invocation `[](int a) -> int {...}(1)` —
                # the reference binds through `<operator>()` with the
                # lambda's signature (CallTests "call on lambda function
                # with explicit return type")
                sig = callee.method_full_name.split(":")[-1]
                nm = "<operator>()"
                mfn = f"<operator>():{sig}"
                ret_ty = sig.split("(", 1)[0]
                callee.arg_index = -1
            elif self.lang in ("c", "cpp"):
                nm = mfn = M.OP_POINTER_CALL
            else:
                nm, mfn = callee.code, M.UNKNOWN_FULL_NAME
            call = N(M.CALL, code=self.slice(start, close), name=nm,
                     method_full_name=mfn,
                     dispatch_type=M.DYNAMIC_DISPATCH, line=start.line,
                     type_full_name=ret_ty,
                     signature=(mfn.split(":", 1)[1]
                                if nm == "<operator>()" else None))
            call.add(callee)
        for i, a in enumerate(args, start=1):
            a.arg_index = i
            call.add(a)
        return call

    def build_member_call(self, receiver: N, fld_tok: Tok, start: Tok, arrow: bool) -> N:
        self.next()  # (
        args: list[N] = []
        while not self.at(")"):
            a = self.parse_assignment_expr()
            args.append(a)
            if self.at(","):
                self.next()
        close = self.expect(")")
        recv_ty = receiver.type_full_name.rstrip("*")
        sig = ""
        ret = ""
        # resolve through the receiver type's class (and bases) — the
        # fullname prefix stays the receiver's static type
        # (ClassTypeTests example 3: b.foo2() -> "B.foo2:void()")
        seen: set[str] = set()
        stack = [self.declared_types.get(recv_ty, recv_ty)]
        while stack:
            c = stack.pop(0)
            if not c or c in seen:
                continue
            seen.add(c)
            info = self.cpp_class_methods.get(c, {}).get(fld_tok.v)
            if info is not None:
                sig, ret = info[1], info[2]
                break
            stack.extend(self.cpp_supers.get(c, []))
        if recv_ty and recv_ty != M.ANY:
            mfn = f"{recv_ty}.{fld_tok.v}:{sig}" if sig \
                else f"{recv_ty}.{fld_tok.v}"
        else:
            mfn = M.UNKNOWN_FULL_NAME
        call = N(M.CALL, code=self.slice(start, close), name=fld_tok.v,
                 method_full_name=mfn, dispatch_type=M.DYNAMIC_DISPATCH,
                 line=start.line, signature=sig,
                 type_full_name=ret or M.ANY)
        receiver.role = M.ROLE_RECEIVER
        receiver.arg_index = 0
        call.add(receiver)
        for i, a in enumerate(args, start=1):
            a.arg_index = i
            call.add(a)
        return call


def parse_c_file(repo: str, path: str, commit: str, lang: str, content: str) -> list[N]:
    return CParser(content, path, lang).parse()
