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


# Kernels with per-task state or whole-batch numpy work keep their own
# mapInPandas: (module, top-level function). Every other per-row Python
# kernel runs on the one scaffold in functions/kernels.py.
_SCAFFOLD = "functions/kernels.py"
_OWN_MAP_IN_PANDAS = {
    ("llm/tokenizer.py", "apply_bpe"),
    ("llm/unigram.py", "apply_unigram"),
    ("llm/encoder.py", "encode_features"),
    ("llm/similarity.py", "_assign_to_centroids"),
    ("operators/scale.py", "heavy_hitters"),
}


def test_map_in_pandas_only_in_scaffold_and_allowlist():
    found = set()
    for path in sorted(_PKG.rglob("*.py")):
        rel = path.relative_to(_PKG).as_posix()
        if rel == _SCAFFOLD:
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        for top in tree.body:
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "mapInPandas"
                ):
                    found.add((rel, getattr(top, "name", f"line {node.lineno}")))
    assert found == _OWN_MAP_IN_PANDAS
