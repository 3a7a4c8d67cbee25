"""Seeded input generators for the CPG build benchmark.

Every generator is a pure function of its seed and returns source-table rows
``(repo, path, commit, lang, content)``; the program under test only ever
sees the parquet table these rows are written to.

* ``c_bulk`` — generated C files from one template family (the shape of
  ``joern_spark.corpus.bench_source``): a mega-repo holds ~20% of the files,
  ``printf``/``malloc`` are hot externals, every repo shares one unresolved
  ``extern_sink_<repo>`` symbol, and a seeded minority of files carries the
  unsafe-call and copy-in-loop shapes the scan bundles look for.
* ``polyglot_link`` — a quarter of the Java, C and C++ parity-corpus cases, dealt
  by seed into repos. Each repo's files are renamed where the language
  derives full names from the package (Java), so same-named classes in
  different repos stay distinct symbols.
"""

from __future__ import annotations

import random
import re

COMMIT_HEX = "0123456789abcdef"

# Workload sizes: both batch workloads are dominated by the fixed cost of
# one build on a 4-core host (about 50 s cold whatever the input size), so
# sizes are kept small enough for one run, build included, to stay near a
# minute; c_bulk is the one whose parse stage grows with the data.
C_BULK_FILES = 150
C_BULK_REPOS = 24
POLYGLOT_REPOS = 2
POLYGLOT_CASE_STEP = 4  # every fourth parity case
POLYGLOT_LANGS = ("java", "c", "cpp")

# Hot symbols the DSL traversals start from, per workload.
HOT_EXTERNAL = {"c_bulk": "printf", "polyglot_link": "<operator>.fieldAccess"}
SINK_CALL = {"c_bulk": "printf", "polyglot_link": "sink"}


def _commit(rng: random.Random) -> str:
    return "".join(rng.choice(COMMIT_HEX) for _ in range(40))


_HEADER = "#include <stdio.h>\n#include <stdlib.h>\n#include <string.h>\n\n"

_HELPER = """int helper_{sym}_{k}(int a, int b) {{
  int t = a + b;
  if (t > {thr}) {{ t = t * {mul}; }} else {{ t = t - {k}; }}
  return t;
}}

"""

_COMPUTE = """int compute_{sym}(int n) {{
  int acc = 0;
  char *buf = malloc({alloc});
  for (int i = 0; i < n; i += 1) {{
    acc += helper_{sym}_{h}(i, n);
    if (acc > {cap}) {{ break; }}
    if (acc < 0) {{ continue; }}
  }}
  while (acc > 0 && n > 1) {{ acc = acc - n; }}
  do {{ n = n - 1; }} while (n > 0);
  switch (acc) {{
    case 0: acc = 1; break;
    case 1: acc = 2;
    default: acc = extern_sink_{sink}(acc);
  }}
  printf("%d", acc);
  free(buf);
  return acc > 0 ? acc : 0 - acc;
}}

"""

_CROSS = """int relay_{sym}(int n) {{
  int r = compute_{peer}(n) + helper_{sym}_0(n, {thr});
  printf("%d", r);
  return r;
}}

"""

_UNSAFE = """void read_{sym}(char *buf, char *src) {{
  {fn}({args});
}}

"""

_COPY_LOOP = """void copy_{sym}(char *dst, char **src, int n) {{
  for (int i = 0; i < n; i += 1) {{
    memcpy(dst, src[i], {width});
  }}
}}

"""


def c_bulk(seed: int, n_files: int = C_BULK_FILES,
           n_repos: int = C_BULK_REPOS) -> list[tuple[str, str, str, str, str]]:
    rng = random.Random(f"c_bulk:{seed}")
    commits = [_commit(rng) for _ in range(n_repos + 1)]
    syms = rng.sample(range(1 << 24), n_files)
    rows = []
    for i, s in enumerate(syms):
        sym = f"{s:06x}"
        r = n_repos if rng.random() < 0.2 else rng.randrange(n_repos)
        repo = "megarepo" if r == n_repos else f"repo_{r}"
        n_helpers = rng.randint(1, 3)
        parts = [_HEADER]
        for k in range(n_helpers):
            parts.append(_HELPER.format(sym=sym, k=k, thr=rng.randint(1, 99),
                                        mul=rng.randint(2, 5)))
        parts.append(_COMPUTE.format(sym=sym, h=rng.randrange(n_helpers),
                                     alloc=rng.choice((16, 32, 64, 128)),
                                     cap=rng.randint(100, 5000), sink=r))
        if i > 0 and rng.random() < 0.5:
            parts.append(_CROSS.format(sym=sym, peer=f"{syms[rng.randrange(i)]:06x}",
                                       thr=rng.randint(1, 99)))
        if rng.random() < 0.05:
            fn = rng.choice(("gets", "strcpy", "strcat", "sprintf"))
            args = {"gets": "buf", "sprintf": 'buf, "%s", src'}.get(fn, "buf, src")
            parts.append(_UNSAFE.format(sym=sym, fn=fn, args=args))
        if rng.random() < 0.05:
            parts.append(_COPY_LOOP.format(sym=sym, width=rng.choice((8, 16, 32))))
        rows.append((repo, f"src/gen_{sym}.c", commits[r], "c", "".join(parts)))
    return rows


_JAVA_PKG = re.compile(r"^(\s*)package\s+([\w.]+)\s*;", re.M)


def corpus_rows() -> list[tuple[str, str, str, str, str]]:
    """Source-table rows for every parity-corpus source file."""
    from joern_spark import parity as P
    return [("parity", path, "f" * 40, c["lang"], content)
            for c in P.corpus() for path, content in P.case_sources(c)]


def _rename_java(content: str, prefix: str, packages: set[str]) -> str:
    """Move a Java file into package ``prefix`` (or ``prefix.<pkg>``) and
    re-point imports of corpus-declared packages at the renamed copies."""
    if _JAVA_PKG.search(content):
        content = _JAVA_PKG.sub(lambda m: f"{m.group(1)}package {prefix}.{m.group(2)};",
                                content, count=1)
    else:
        content = f"package {prefix};\n" + content
    for pkg in packages:
        content = re.sub(rf"\bimport(\s+static)?\s+{re.escape(pkg)}\.",
                         lambda m: f"import{m.group(1) or ''} {prefix}.{pkg}.",
                         content)
    return content


def polyglot_link(seed: int, n_repos: int = POLYGLOT_REPOS) -> list[tuple[str, str, str, str, str]]:
    rng = random.Random(f"polyglot_link:{seed}")
    files = [r for r in corpus_rows() if r[3] in POLYGLOT_LANGS]
    packages = {m.group(2) for _, _, _, lang, content in files if lang == "java"
                for m in _JAVA_PKG.finditer(content)}
    # multi-file cases (paths "<case>/<file>") travel together so their
    # cross-file references still resolve inside one repo
    cases: dict[str, list[tuple[str, str, str, str, str]]] = {}
    for f in files:
        cases.setdefault(f[1].split("/", 1)[0], []).append(f)
    # a fixed share of the cases, so each seed builds the same amount of code
    # and only names and repo membership vary
    names = sorted(cases)[::POLYGLOT_CASE_STEP]
    rng.shuffle(names)
    rows = []
    for r in range(n_repos):
        repo = f"poly_{r}"
        prefix = f"r{r}x{rng.randrange(1 << 16):04x}"
        commit = _commit(rng)
        for name in names[r::n_repos]:
            for _, path, _, lang, content in cases[name]:
                if lang == "java":
                    content = _rename_java(content, prefix, packages)
                rows.append((repo, f"{prefix}/{path}", commit, lang, content))
    return rows


GENERATORS = {"c_bulk": c_bulk, "polyglot_link": polyglot_link}
