"""The build path must not import ``joern_spark.oracle``: the oracle's
sequential rules are the independent check on the distributed ones, and a
build that called them would turn every oracle comparison into a
self-check. Imports are read with ``ast`` (docstrings mention the oracle by
name); ``parity/`` and the driver entry point may import it."""

from __future__ import annotations

import ast
import warnings
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD_PATH = ["operators", "plans", "sources", "frontends", "query", "scan.py"]
ORACLE = "joern_spark.oracle"


def _oracle_imports(source: str, module: str) -> list[int]:
    """Line numbers of import statements (at any nesting level) in
    ``source``, the text of dotted module ``module``, that reach the
    oracle."""
    package = module.split(".")[:-1]
    lines = []
    with warnings.catch_warnings():  # escape-sequence warnings of the source
        warnings.simplefilter("ignore")
        tree = ast.parse(source)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            targets = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = package[:len(package) - node.level + 1] if node.level else []
            base = ".".join(base + ([node.module] if node.module else []))
            targets = [base] + [f"{base}.{a.name}" for a in node.names]
        else:
            continue
        if any(t == ORACLE or t.startswith(ORACLE + ".") for t in targets):
            lines.append(node.lineno)
    return lines


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def test_build_path_does_not_import_oracle():
    files = []
    for entry in BUILD_PATH:
        p = ROOT / "joern_spark" / entry
        files += sorted(p.rglob("*.py")) if p.is_dir() else [p]
    assert len(files) > 10, files
    hits = [f"{f.relative_to(ROOT)}:{line}" for f in files
            for line in _oracle_imports(f.read_text(), _module_name(f))]
    assert hits == []


def test_oracle_import_detection():
    """Every spelling of the import is seen; a mention in text is not."""
    mod = "joern_spark.operators.probe"
    for src in ["import joern_spark.oracle",
                "import joern_spark.oracle as O",
                "from joern_spark import oracle",
                "from joern_spark.oracle import expected_inherits",
                "from .. import oracle",
                "from ..oracle import expected_inherits",
                "def f():\n    from joern_spark import oracle as O"]:
        assert _oracle_imports(src, mod), src
    for src in ['"""compare with joern_spark.oracle"""\nimport joern_spark.model',
                "from . import oracle",  # joern_spark.operators.oracle
                "from joern_spark import model"]:
        assert not _oracle_imports(src, mod), src
    assert _oracle_imports("from . import oracle", "joern_spark.probe")
    assert _module_name(ROOT / "joern_spark" / "query" / "__init__.py") == \
        "joern_spark.query"
