"""Every resource the driver holds past one query — a persisted or
checkpointed DataFrame, or a ``sparkContext.broadcast`` handle — is
created in a known place. The library is parsed, not executed, and each
such call is matched against the owners below; a new persist or
broadcast must name its owner and reason here, and a deleted one must
leave the list. ``F.broadcast`` join hints hold nothing and are not
counted."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "osm2shp_spark"
HELD = {"persist", "cache", "localCheckpoint", "checkpoint"}

#: ``module::function`` -> why it holds a resource
OWNERS = {
    "operators/spatial.py::knn_join_auto": (
        "the tile-bucketed feature arrays ship as one broadcast; "
        "never released"
    ),
    "operators/similarity.py::_cosine_topk_broadcast_numpy": (
        "the probe vectors ship as one broadcast; never released"
    ),
}


def _kind(call: ast.Call) -> str | None:
    f = call.func
    if not isinstance(f, ast.Attribute):
        return None
    if f.attr in HELD:
        return f.attr
    if f.attr == "broadcast" and (
        (isinstance(f.value, ast.Attribute) and f.value.attr == "sparkContext")
        or (isinstance(f.value, ast.Name) and f.value.id == "sc")
    ):
        return "broadcast"
    return None


def _held(path: Path) -> list[tuple[str, str, int]]:
    """(owner, kind, line) per resource-holding call; the owner is the
    outermost enclosing function."""
    module = path.relative_to(PACKAGE).as_posix()
    out = []

    def walk(node: ast.AST, owner: str | None) -> None:
        for child in ast.iter_child_nodes(node):
            inner = owner
            if owner is None and isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef)
            ):
                inner = child.name
            elif isinstance(child, ast.Call) and (kind := _kind(child)):
                out.append((f"{module}::{owner or '<module>'}", kind, child.lineno))
            walk(child, inner)

    walk(ast.parse(path.read_text(), filename=str(path)), None)
    return out


def test_driver_held_resources_have_known_owners():
    found = [h for p in sorted(PACKAGE.rglob("*.py")) for h in _held(p)]
    unknown = [h for h in found if h[0] not in OWNERS]
    assert not unknown, f"persist/checkpoint/broadcast without an owner: {unknown}"
    stale = set(OWNERS) - {owner for owner, _, _ in found}
    assert not stale, f"owners that no longer hold a resource: {sorted(stale)}"
    # the library persists, caches and checkpoints nothing
    assert {kind for _, kind, _ in found} == {"broadcast"}, found
