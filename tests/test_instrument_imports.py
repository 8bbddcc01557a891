"""The measuring instruments (``bench.py``, ``bench_extra.py`` and the
``perfbench/`` scripts) import library names that nothing else in the
package may use. A library change that deletes or renames one of them
must fail here, not later in a benchmark run. The scripts are parsed,
not executed, so imports inside functions are checked too."""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
INSTRUMENTS = sorted(
    [ROOT / "bench.py", ROOT / "bench_extra.py", *(ROOT / "perfbench").glob("*.py")]
)
PACKAGE = "osm2shp_spark"


def _library_imports(path: Path) -> list[tuple[str, str | None]]:
    """(module, name) per imported library name; name is None for a
    plain ``import osm2shp_spark...``."""
    out = []
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and (
            node.module == PACKAGE or node.module.startswith(PACKAGE + ".")
        ):
            out += [(node.module, a.name) for a in node.names]
        elif isinstance(node, ast.Import):
            out += [
                (a.name, None)
                for a in node.names
                if a.name == PACKAGE or a.name.startswith(PACKAGE + ".")
            ]
    return out


def _resolves(module: str, name: str | None) -> bool:
    try:
        mod = importlib.import_module(module)
        if name is None or hasattr(mod, name):
            return True
        # ``from package import submodule`` binds a not-yet-imported module
        importlib.import_module(f"{module}.{name}")
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
        for module, name in found
        if not _resolves(module, name)
    ]
    assert not missing, f"instruments import names the library lacks: {missing}"
