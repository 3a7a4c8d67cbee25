"""Every module of the package compiles with warnings as errors: an invalid
escape sequence is a SyntaxWarning today (printed on every import) and a
SyntaxError in a future Python."""

from __future__ import annotations

import warnings
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "joern_spark"


def test_modules_compile_without_warnings():
    paths = sorted(PACKAGE.rglob("*.py"))
    assert paths
    failures = []
    for path in paths:
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            try:
                compile(path.read_text(), str(path), "exec")
            except (SyntaxError, SyntaxWarning, DeprecationWarning) as e:
                failures.append(f"{path.relative_to(PACKAGE.parent)}: {e}")
    assert not failures, failures
