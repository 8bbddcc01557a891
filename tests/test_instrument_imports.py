"""The measuring instruments (``bench.py``, ``bench_extra.py`` and the
``perfbench/`` scripts) import library names that nothing else in the
package may use. A library change that deletes or renames one of them
must fail here, not later in a benchmark run. The scripts are parsed,
not executed, so imports inside functions are checked too. So is every
keyword argument an instrument passes to an imported library callable:
a parameter the library drops would otherwise raise only mid-run."""

from __future__ import annotations

import ast
import importlib
import inspect
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
INSTRUMENTS = sorted(
    [ROOT / "bench.py", ROOT / "bench_extra.py", *(ROOT / "perfbench").glob("*.py")]
)
PACKAGE = "osm2shp_spark"


def _library_imports(path: Path) -> list[tuple[str | None, str, str | None]]:
    """(local name, module, name) per imported library name; name is
    None for a plain ``import osm2shp_spark...``, whose local name is
    None unless it is aliased."""
    out = []
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and (
            node.module == PACKAGE or node.module.startswith(PACKAGE + ".")
        ):
            out += [(a.asname or a.name, node.module, a.name) for a in node.names]
        elif isinstance(node, ast.Import):
            out += [
                (a.asname, a.name, None)
                for a in node.names
                if a.name == PACKAGE or a.name.startswith(PACKAGE + ".")
            ]
    return out


def _resolve(module: str, name: str | None):
    mod = importlib.import_module(module)
    if name is None:
        return mod
    if hasattr(mod, name):
        return getattr(mod, name)
    # ``from package import submodule`` binds a not-yet-imported module
    return importlib.import_module(f"{module}.{name}")


def _resolves(module: str, name: str | None) -> bool:
    try:
        _resolve(module, name)
    except ModuleNotFoundError:
        return False
    return True


def test_instrument_library_imports_resolve():
    imports = {p.name: _library_imports(p) for p in INSTRUMENTS}
    assert {"bench.py", "run.py", "workloads.py"} <= set(imports)
    assert imports["bench.py"] and imports["workloads.py"]
    missing = [
        f"{path}: {module}" + (f".{name}" if name else "")
        for path, found in imports.items()
        for _, module, name in found
        if not _resolves(module, name)
    ]
    assert not missing, f"instruments import names the library lacks: {missing}"


def _keyword_calls(path: Path):
    """(callable, keyword, line) per keyword argument the script passes
    to a library callable it imported, as ``f(...)`` or ``alias.f(...)``."""
    bound = {
        local: _resolve(module, name)
        for local, module, name in _library_imports(path)
        if local
    }
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        target = None
        if isinstance(f, ast.Name) and f.id in bound:
            target = bound[f.id]
        elif (
            isinstance(f, ast.Attribute)
            and isinstance(f.value, ast.Name)
            and inspect.ismodule(bound.get(f.value.id))
        ):
            target = getattr(bound[f.value.id], f.attr, None)
        if target is None or inspect.ismodule(target):
            continue
        for kw in node.keywords:
            if kw.arg is not None:  # ``**kwargs`` splats name nothing
                yield target, kw.arg, node.lineno


def _accepts(fn, keyword: str) -> bool:
    try:
        params = inspect.signature(fn).parameters
    except (TypeError, ValueError):  # no introspectable signature
        return True
    return keyword in params or any(
        p.kind is inspect.Parameter.VAR_KEYWORD for p in params.values()
    )


def test_instrument_keywords_are_library_parameters():
    checked, bad = set(), []
    for path in INSTRUMENTS:
        for fn, kw, line in _keyword_calls(path):
            name = getattr(fn, "__qualname__", repr(fn))
            checked.add((name, kw))
            if not _accepts(fn, kw):
                bad.append(f"{path.name}:{line}: {name}(..., {kw}=...)")
    # the two keywords that motivated the check are really seen
    assert {
        ("assemble_ways", "defer_filters"),
        ("assemble_ways", "compact_pos"),
    } <= checked
    assert not bad, f"instruments pass keywords the library lacks: {bad}"
