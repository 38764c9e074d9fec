"""Tier-1 runs on a host without the PROJ reference checkout: a test that
reads from it must skip, with a stated reason, when it is absent.

The check is static.  In every tests/*.py, a test function or fixture
that names the reference path, directly or through module-level
constants and helper functions, must carry a skip guard: a
`pytest.skip(...)` call in its body, a `skipif` decorator, or a
module-level `pytestmark` skipif."""

from __future__ import annotations

import ast
import pathlib

REF = "/root/reference"
TESTS = pathlib.Path(__file__).parent


def _names(node: ast.AST) -> set[str]:
    return {n.id for n in ast.walk(node) if isinstance(n, ast.Name)}


def _names_ref(node: ast.AST) -> bool:
    return any(isinstance(n, ast.Constant) and isinstance(n.value, str)
               and REF in n.value for n in ast.walk(node))


def _is_guard(node: ast.AST) -> bool:
    text = ast.unparse(node)
    return "skipif" in text or "pytest.skip(" in text


def _is_test_or_fixture(fn: ast.FunctionDef) -> bool:
    return fn.name.startswith("test_") or any(
        "fixture" in ast.unparse(d) for d in fn.decorator_list)


def unguarded_reference_reads(source: str) -> list[str]:
    """Names of the tests and fixtures in `source` that reach the
    reference path without a skip guard."""
    tree = ast.parse(source)
    module_guard = any(
        isinstance(st, ast.Assign) and _names(st) >= {"pytestmark"}
        and _is_guard(st.value) for st in tree.body)
    funcs = [st for st in tree.body if isinstance(st, ast.FunctionDef)]
    tainted = {t.id for st in tree.body if isinstance(st, ast.Assign)
               and _names_ref(st.value)
               for t in st.targets if isinstance(t, ast.Name)}
    grew = True
    while grew:          # helpers that reach a tainted name are tainted
        grew = False
        for fn in funcs:
            if (fn.name not in tainted and not _is_test_or_fixture(fn)
                    and (_names_ref(fn) or _names(fn) & tainted)):
                tainted.add(fn.name)
                grew = True
    return [fn.name for fn in funcs
            if _is_test_or_fixture(fn) and not module_guard
            and (_names_ref(fn) or _names(fn) & tainted)
            and not any(_is_guard(d) for d in fn.decorator_list)
            and not any(isinstance(n, ast.Call) and _is_guard(n)
                        for n in ast.walk(fn))]


def test_every_reference_read_is_skip_guarded():
    this = pathlib.Path(__file__).name
    bad = {p.name: names for p in sorted(TESTS.glob("*.py"))
           if p.name != this
           and (names := unguarded_reference_reads(p.read_text()))}
    assert not bad, bad


def test_guard_check_flags_an_unguarded_read():
    src = f'''
import os, pytest
DIR = "{REF}/test/gie"
def _load(name):
    return open(os.path.join(DIR, name)).read()
def test_guarded():
    if not os.path.isdir(DIR):
        pytest.skip("reference gie corpus absent")
    _load("a.gie")
@pytest.mark.skipif(not os.path.isdir(DIR), reason="absent")
def test_decorated():
    _load("b.gie")
def test_unguarded():
    _load("c.gie")
'''
    assert unguarded_reference_reads(src) == ["test_unguarded"]
    guarded = src.replace(
        "import os, pytest\n",
        "import os, pytest\npytestmark = pytest.mark.skipif(True, "
        "reason='absent')\n")
    assert unguarded_reference_reads(guarded) == []
