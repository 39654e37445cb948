"""Runtime guards in the package must survive `python -O`.

`-O` strips every `assert` statement, so a check written as one silently
stops checking. The package raises explicitly instead; this scan keeps
it that way.
"""

from __future__ import annotations

import ast
import pathlib

import data_lake_skyfit_spark

_PKG = pathlib.Path(data_lake_skyfit_spark.__file__).parent


def test_package_has_no_assert_statements():
    found = [
        f"{path.relative_to(_PKG.parent)}:{node.lineno}"
        for path in sorted(_PKG.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path)))
        if isinstance(node, ast.Assert)
    ]
    assert found == []
