"""Every package module compiles with warnings raised as errors, so an
invalid string escape (a DeprecationWarning on 3.11, a SyntaxWarning on
3.12+) fails the suite instead of scrolling past in its log."""

from __future__ import annotations

import warnings
from pathlib import Path

import curator_spark

SOURCES = sorted(Path(curator_spark.__file__).parent.rglob("*.py"))


def test_package_compiles_without_warnings():
    assert SOURCES
    for path in SOURCES:
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            compile(path.read_text(encoding="utf-8"), str(path), "exec", dont_inherit=True)
