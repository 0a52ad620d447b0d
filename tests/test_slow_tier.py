"""The slow-tier list in conftest.py must name real tests.

``SLOW_TIER`` holds ``file::function`` names; a test that is renamed or
deleted would leave a stale name behind that skips nothing and hides
the rename. Each name must be a module-level ``test_*`` function of its
file (read with ``ast``, so this needs no Spark and imports no test
module).
"""

from __future__ import annotations

import ast
import os

from conftest import SLOW_TIER, slow_tier_key

_TESTS = os.path.dirname(os.path.abspath(__file__))


def _test_functions(fname: str) -> set[str]:
    path = os.path.join(_TESTS, fname)
    if not os.path.exists(path):
        return set()
    with open(path) as fh:
        tree = ast.parse(fh.read(), path)
    return {
        n.name
        for n in tree.body
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)) and n.name.startswith("test_")
    }


def test_every_slow_tier_name_is_a_test():
    by_file: dict[str, set[str]] = {}
    stale = []
    for key in sorted(SLOW_TIER):
        fname, func = key.split("::")
        if fname not in by_file:
            by_file[fname] = _test_functions(fname)
        if func not in by_file[fname]:
            stale.append(key)
    assert not stale, f"SLOW_TIER names no test: {stale}"


def test_slow_tier_key_matches_command_line_nodeids():
    assert slow_tier_key("tests/test_ivf.py::test_x[a-b]") == "test_ivf.py::test_x"
    assert slow_tier_key("test_ivf.py::test_x") == "test_ivf.py::test_x"
    assert slow_tier_key("tests/test_ivf.py") is None
