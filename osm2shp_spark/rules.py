"""Layer routing rules — the reference's hard-coded config as data.

The reference hard-codes 10 output shapes and 12 ordered routing rules
(reference: osm/handler.cc:34-56); first match wins (handler.cc:96-104,
115-123). We ship the exact same table as the engine default, as plain
data so it is testable and user-extensible.

Semantics preserved exactly (verified against the reference):

- geometry *kind* is decided before layer match (handler.cc:111):
  ``is_area`` = area=yes ∨ has(landuse) ∨ natural∈{land,water,woord}
  (handler.cc:127-133 — including the upstream typo ``woord``: a
  natural=wood way is NOT an area; replicated literally for
  row-for-row parity),
- point rules only ever match nodes, line/polygon rules only ways
  (shape-type gate, handler.cc:97,116),
- a way that matches a rule but fails node resolution is still
  consumed by that rule (``break`` at handler.cc:122) — free in our
  design since classification is independent of join success.

Classification is emitted as a standard-SQL ``CASE WHEN`` chain
(lazy evaluation = the reference's first-match ``break``), which both
Spark Catalyst and the DuckDB oracle execute identically.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class LayerRule:
    layer: str
    kind: str  # 'point' | 'line' | 'polygon'
    tag_key: str
    tag_value: str


#: The 12 rules, in priority order (osm/handler.cc:45-56).
DEFAULT_RULES: tuple[LayerRule, ...] = (
    LayerRule("roadbig_line", "line", "highway", "motorway"),
    LayerRule("roadbig_line", "line", "highway", "trunk"),
    LayerRule("roadmedium_line", "line", "highway", "primary"),
    LayerRule("roadsmall_line", "line", "highway", "secondary"),
    LayerRule("railway_line", "line", "railway", "rail"),
    LayerRule("city_point", "point", "place", "city"),
    LayerRule("town_point", "point", "place", "town"),
    LayerRule("suburb_point", "point", "place", "suburb"),
    LayerRule("village_point", "point", "place", "village"),
    LayerRule("water_line", "line", "waterway", "river"),
    LayerRule("water_line", "line", "waterway", "canal"),
    LayerRule("water_area", "polygon", "natural", "water"),
)

#: Tag keys the rule set and is_area predicate read.
TAG_KEYS: tuple[str, ...] = (
    "highway",
    "railway",
    "waterway",
    "natural",
    "landuse",
    "area",
    "place",
    "name",
)


def tag_col(key: str) -> str:
    """Column name for an extracted tag (``natural`` is a SQL keyword)."""
    return f"tag_{key}"


def is_area_sql() -> str:
    """Boolean SQL expr for the reference's is_area (handler.cc:127-133).

    NULL-safe: each leg is a NOT-NULL equality / presence test, so the
    whole expression is TRUE or FALSE, never NULL. Note ``woord``:
    upstream typo kept deliberately (natural=wood is NOT an area).
    """
    return (
        f"(coalesce({tag_col('area')} = 'yes', false)"
        f" OR {tag_col('landuse')} IS NOT NULL"
        f" OR coalesce({tag_col('natural')} IN ('land', 'water', 'woord'), false))"
    )


def way_kind_sql() -> str:
    """'polygon' | 'line' kind column for ways (handler.cc:111)."""
    return f"CASE WHEN {is_area_sql()} THEN 'polygon' ELSE 'line' END"


def min_vertex_sql(kind_expr: str = "kind", refs_len_expr: str = "n_refs") -> str:
    """Min-vertex keep predicate (handler.cc:112-113).

    Counted on *refs*, before resolution, duplicates included:
    polygons need >= 3 refs, lines >= 2.
    """
    return (
        f"(({kind_expr} = 'polygon' AND {refs_len_expr} >= 3)"
        f" OR ({kind_expr} = 'line' AND {refs_len_expr} >= 2))"
    )


def _sq(value: str) -> str:
    """SQL single-quoted string literal with '' escaping — the rule
    table is documented user-extensible, so a value like "l'eau" must
    render as a valid literal, not a ParseException (or an injection
    vector for untrusted rule configs)."""
    return "'" + value.replace("'", "''") + "'"


def _match_sql(rule: LayerRule) -> str:
    return f"{tag_col(rule.tag_key)} = {_sq(rule.tag_value)}"


def way_layer_sql(kind_expr: str = "kind") -> str:
    """Ordered first-match CASE over line/polygon rules (handler.cc:115-123).

    The rule's shape type must equal the way's computed kind; CASE's
    lazy first-match evaluation reproduces the ``break``.
    """
    whens = [
        f"WHEN {kind_expr} = {_sq(r.kind)} AND {_match_sql(r)} THEN {_sq(r.layer)}"
        for r in DEFAULT_RULES
        if r.kind in ("line", "polygon")
    ]
    return "CASE " + " ".join(whens) + " ELSE NULL END"


def node_layer_sql() -> str:
    """Ordered first-match CASE over point rules (handler.cc:96-104)."""
    whens = [
        f"WHEN {_match_sql(r)} THEN {_sq(r.layer)}"
        for r in DEFAULT_RULES
        if r.kind == "point"
    ]
    return "CASE " + " ".join(whens) + " ELSE NULL END"


#: Width of the shapefile ``name`` attribute — shapelib silently
#: truncates at 64 chars (osm/shapefile.cc:23); kept for strict parity.
NAME_WIDTH = 64


#: Distinct (layer, kind) routing outcomes for ways, in rule order —
#: the assembly shuffle codes a routed way's classification as ONE
#: tinyint index into this table instead of carrying the two strings
#: through the exploded ref join + groupBy (a ~25% per-row shuffle
#: byte cut on the flagship join), decoding after the aggregate.
WAY_PAIRS: tuple[tuple[str, str], ...] = tuple(
    dict.fromkeys(
        (r.layer, r.kind) for r in DEFAULT_RULES if r.kind in ("line", "polygon")
    )
)


def way_pair_idx_sql() -> str:
    """TINYINT index into :data:`WAY_PAIRS` for an already-classified
    way's ``layer`` and ``kind`` (layer is non-null by construction
    after routing)."""
    whens = [
        f"WHEN layer = {_sq(lay)} AND kind = {_sq(kd)} THEN {i}"
        for i, (lay, kd) in enumerate(WAY_PAIRS)
    ]
    return "CAST(CASE " + " ".join(whens) + " END AS TINYINT)"


def pair_layer_sql(idx_expr: str) -> str:
    """Decode the tinyint pair index back to the layer string.

    A total CASE, not ``element_at(array(...), idx + 1)``: when a
    downstream filter on the decoded string is pushed below the
    classification filters (legal behind classify_ways' collapse
    barriers), the decode can be evaluated on
    not-yet-routed rows whose index is NULL, and ANSI ``element_at``
    codegen faults on the null index's 0 slot value
    (INVALID_INDEX_OF_ZERO). CASE is null-total by construction and
    equally cheap at 6 entries.
    """
    whens = " ".join(
        f"WHEN {i} THEN {_sq(lay)}" for i, (lay, _) in enumerate(WAY_PAIRS)
    )
    return f"CASE CAST({idx_expr} AS INT) {whens} END"


def pair_kind_sql(idx_expr: str) -> str:
    """Decode the tinyint pair index back to the kind string (total
    CASE — same null-safety rationale as :func:`pair_layer_sql`)."""
    whens = " ".join(
        f"WHEN {i} THEN {_sq(kd)}" for i, (_, kd) in enumerate(WAY_PAIRS)
    )
    return f"CASE CAST({idx_expr} AS INT) {whens} END"
