"""Every parameter default in the library selects something: some call in
the program (``osm2shp_spark/``, ``__spark_entry__.py``) or in the
measuring instruments (``bench.py``, ``bench_extra.py``, ``perfbench/``)
sets it. A parameter that only its default ever sets is a constant with
a second name, so it fails here. ``golden.py`` is an instrument too: its
own defaults are not checked, but its calls count.

The check reads the sources, it runs nothing. A call is matched to every
library function of the same name, which over-counts but never misses a
caller:

- ``Cls(...)`` counts as a call of ``Cls.__init__``;
- a method's ``self`` (or ``cls``) shifts argument positions by one;
- a call with ``*args`` or ``**kwargs`` sets every parameter."""

from __future__ import annotations

import ast
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
LIBRARY = sorted(
    p for p in (ROOT / "osm2shp_spark").rglob("*.py") if p.name != "golden.py"
)
CALLERS = sorted(
    [
        *(ROOT / "osm2shp_spark").rglob("*.py"),
        ROOT / "__spark_entry__.py",
        ROOT / "bench.py",
        ROOT / "bench_extra.py",
        *(ROOT / "perfbench").glob("*.py"),
    ]
)


@dataclass
class _Def:
    where: str
    positional: list[str]
    defaulted: set[str]
    shift: int


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def _definitions(tree: ast.Module, where: str):
    """(call name, definition) per function with a parameter default."""

    def visit(node, cls: str | None):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.ClassDef):
                yield from visit(child, child.name)
            elif isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = child.args
                positional = [x.arg for x in a.posonlyargs + a.args]
                defaulted = set(positional[len(positional) - len(a.defaults):])
                defaulted |= {
                    x.arg for x, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
                }
                static = any(
                    isinstance(d, ast.Name) and d.id == "staticmethod"
                    for d in child.decorator_list
                )
                method = cls is not None and not static
                name = cls if method and child.name == "__init__" else child.name
                if defaulted:
                    yield name, _Def(
                        f"{where}:{child.lineno} {child.name}",
                        positional,
                        defaulted,
                        int(method),
                    )
                yield from visit(child, None)
            else:
                yield from visit(child, cls)

    yield from visit(tree, None)


def _calls(tree: ast.Module):
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            if isinstance(f, ast.Name):
                yield f.id, node
            elif isinstance(f, ast.Attribute):
                yield f.attr, node


def _set_by(call: ast.Call, d: _Def) -> set[str]:
    if any(isinstance(a, ast.Starred) for a in call.args) or any(
        kw.arg is None for kw in call.keywords
    ):
        return set(d.defaulted)
    named = set(d.positional[d.shift : d.shift + len(call.args)])
    named |= {kw.arg for kw in call.keywords}
    return named & d.defaulted


def unset_options(
    library: dict[str, ast.Module], callers: list[ast.Module]
) -> list[str]:
    """``where(parameter)`` per defaulted parameter of ``library`` (name
    -> parsed module) that no call in ``callers`` sets."""
    defs: dict[str, list[_Def]] = {}
    for where, tree in library.items():
        for name, d in _definitions(tree, where):
            defs.setdefault(name, []).append(d)
    seen: dict[str, set[str]] = {}
    for tree in callers:
        for name, call in _calls(tree):
            for d in defs.get(name, ()):
                seen.setdefault(d.where, set()).update(_set_by(call, d))
    return [
        f"{d.where}({p})"
        for ds in defs.values()
        for d in ds
        for p in sorted(d.defaulted - seen.get(d.where, set()))
    ]


def _program_unset() -> list[str]:
    return unset_options(
        {str(p.relative_to(ROOT)): _parse(p) for p in LIBRARY},
        [_parse(p) for p in CALLERS],
    )


def test_every_parameter_default_is_set_by_some_call():
    unset = _program_unset()
    assert not unset, (
        "parameters that only their default sets; write the default into "
        f"the body and drop the parameter: {unset}"
    )


_RULES_LIB = """
class Grid:
    def __init__(self, cells, size=1.0, fmt="ppm"):
        pass

    def cover(self, box, level=12, limit=64):
        pass

def scan(path, batch=100, *, mode="overwrite"):
    pass
"""

_RULES_CALLS = """
Grid(cells, 2.0)                # constructor: the 1st argument is ``cells``
g.cover(box, 10)                # method: ``self`` shifts positions by one
scan(*paths)                    # a splat sets every parameter
"""


def test_the_check_applies_its_call_rules():
    unset = unset_options({"lib": ast.parse(_RULES_LIB)}, [ast.parse(_RULES_CALLS)])
    assert unset == ["lib:3 __init__(fmt)", "lib:6 cover(limit)"]
    unset = unset_options(
        {"lib": ast.parse(_RULES_LIB)},
        [ast.parse("scan(p, **opts)\nGrid(c, fmt='png', size=2)\ng.cover(b, 1, 2)")],
    )
    assert unset == []


if __name__ == "__main__":
    print("\n".join(_program_unset()))
