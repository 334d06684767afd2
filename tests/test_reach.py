"""Static checks of the library source (no Spark): the reach sweep of
tools/reach.py, and no ``assert`` statement in the library."""

from __future__ import annotations

import ast
import pathlib
import textwrap

from tools.reach import unreached

REPO = pathlib.Path(__file__).resolve().parents[1]


def _write(path: pathlib.Path, src: str) -> None:
    path.write_text(textwrap.dedent(src))


def test_reach_roots_edges_and_non_uses(tmp_path):
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    _write(pkg / "__init__.py", '''
        from .a import reexported

        __all__ = ["only_named", "reexported"]
        ''')
    _write(pkg / "a.py", '''
        """Module docstring naming only_named."""


        def helper():
            return 1


        def used_by_attr():
            """Calls helper; mentions only_named."""
            return helper()


        def dead_callee():
            return 2


        def dead_caller():
            return dead_callee() + 1


        def only_named():
            return "only_named"


        def reexported():
            return 3


        def used_at_module_level():
            return 4


        CONST = used_at_module_level()
        ''')
    root = tmp_path / "entry.py"
    _write(root, '''
        import pkg.a

        pkg.a.used_by_attr()
        print("only_named")
        ''')

    rows = unreached(str(pkg), [str(root)])
    by_name = {name: (rel, line, size) for rel, line, size, name in rows}
    # a root's attribute use reaches a def, and that def's callees
    assert "used_by_attr" not in by_name and "helper" not in by_name
    # a def called only by an unreached def is itself unreached
    assert {"dead_caller", "dead_callee"} <= set(by_name)
    # __all__, docstrings, strings and re-exports are not uses
    assert {"only_named", "reexported"} <= set(by_name)
    # library module-level code is a root
    assert "used_at_module_level" not in by_name
    assert set(by_name) == {"dead_caller", "dead_callee", "only_named",
                            "reexported"}
    assert by_name["dead_caller"] == ("pkg/a.py", 18, 2)


def test_library_has_no_assert_statements():
    """Invariant checks must survive ``python -O``, which strips
    ``assert``: the library raises instead."""
    found = [f"{p.relative_to(REPO)}:{n.lineno}"
             for p in sorted((REPO / "gojsonschema_spark").rglob("*.py"))
             for n in ast.walk(ast.parse(p.read_text(), filename=str(p)))
             if isinstance(n, ast.Assert)]
    assert found == []
