"""Geometry + cell-index kernel tests (NumPy and Arrow level, no Spark)."""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa
import pytest

from osm2shp_spark.functions import geometry as G
from osm2shp_spark.functions import hexgrid, s2


class TestRayCast:
    def test_square(self):
        px = np.array([0.5, 1.5, 0.0, 0.999, -0.1])
        py = np.array([0.5, 0.5, 2.0, 0.001, 0.5])
        poly_x = np.array([0.0, 1.0, 1.0, 0.0])
        poly_y = np.array([0.0, 0.0, 1.0, 1.0])
        assert list(G.points_in_polygon(px, py, poly_x, poly_y)) == [
            True, False, False, True, False,
        ]

    def test_closed_ring_equivalent_to_open(self):
        rng = np.random.default_rng(3)
        px, py = rng.uniform(-2, 2, 500), rng.uniform(-2, 2, 500)
        x = np.array([0.0, 1.0, 1.5, 0.5, -0.5])
        y = np.array([0.0, -0.3, 1.0, 1.8, 0.9])
        open_r = G.points_in_polygon(px, py, x, y)
        closed = G.points_in_polygon(px, py, np.append(x, x[0]), np.append(y, y[0]))
        assert (open_r == closed).all()

    def test_concave(self):
        # U-shape: the notch is outside
        x = np.array([0, 3, 3, 2, 2, 1, 1, 0], float)
        y = np.array([0, 0, 3, 3, 1, 1, 3, 3], float)
        inside = G.points_in_polygon(
            np.array([1.5, 0.5, 2.5]), np.array([2.0, 2.0, 2.0]), x, y
        )
        assert list(inside) == [False, True, True]


class TestDouglasPeucker:
    def test_collinear_collapses(self):
        xs = np.linspace(0, 1, 50)
        ys = np.zeros(50)
        sx, sy = G.simplify(xs, ys, 1e-9)
        assert len(sx) == 2

    def test_preserves_beyond_eps(self):
        xs = np.array([0.0, 0.5, 1.0])
        ys = np.array([0.0, 0.4, 0.0])
        sx, _ = G.simplify(xs, ys, 0.2)
        assert len(sx) == 3
        sx, _ = G.simplify(xs, ys, 0.5)
        assert len(sx) == 2

    def test_endpoints_always_kept(self):
        rng = np.random.default_rng(9)
        xs, ys = rng.uniform(0, 1, 40), rng.uniform(0, 1, 40)
        sx, sy = G.simplify(xs, ys, 0.3)
        assert sx[0] == xs[0] and sx[-1] == xs[-1]


class TestCleaning:
    def test_snap_and_dedup(self):
        xs = np.array([0.0, 0.0, 0.5])
        ys = np.array([0.0, 0.0, 0.5])
        dx, dy = G.drop_consecutive_duplicates(xs, ys)
        assert len(dx) == 2

    def test_degenerate(self):
        assert G.is_degenerate_line(np.array([1.0, 1.0]), np.array([2.0, 2.0]))
        assert not G.is_degenerate_line(np.array([1.0, 2.0]), np.array([2.0, 2.0]))


def _lists(rows) -> pa.Array:
    return pa.array(rows, pa.list_(pa.float64()))


class TestWKB:
    """``wkb_udf``'s batch encoder against hand-packed OGC WKB."""

    @staticmethod
    def _encode(kinds, lons, lats) -> list[bytes]:
        from osm2shp_spark.functions.udfs import wkb_udf

        return wkb_udf.func(kinds, lons, lats).to_pylist()

    @staticmethod
    def _coords(xs, ys) -> bytes:
        return b"".join(struct.pack("<dd", x, y) for x, y in zip(xs, ys))

    def test_line_bytes(self):
        xs, ys = [8.5, 8.6, 8.7], [47.25, 47.5, 47.0]
        got = self._encode(pa.array(["line"]), _lists([xs]), _lists([ys]))
        assert got == [struct.pack("<BII", 1, 2, 3) + self._coords(xs, ys)]

    def test_polygon_autoclose(self):
        xs, ys = [0.0, 1.0, 1.0], [0.0, 0.0, 1.0]
        got = self._encode(pa.array(["polygon"]), _lists([xs]), _lists([ys]))
        ring = self._coords(xs + [0.0], ys + [0.0])
        assert got == [struct.pack("<BIII", 1, 3, 1, 4) + ring]

    def test_closed_polygon_kept(self):
        xs, ys = [0.0, 1.0, 1.0, 0.0], [0.0, 0.0, 1.0, 0.0]
        got = self._encode(pa.array(["polygon"]), _lists([xs]), _lists([ys]))
        assert got == [struct.pack("<BIII", 1, 3, 1, 4) + self._coords(xs, ys)]

    def test_empty_polygon(self):
        kinds = pa.array(["polygon", "line"])
        got = self._encode(kinds, _lists([[], []]), _lists([[], []]))
        assert got == [struct.pack("<BIII", 1, 3, 1, 0), struct.pack("<BII", 1, 2, 0)]

    def test_sliced_input(self):
        """An Arrow slice's offsets do not start at 0: the encoder must
        read only the slice's own vertices."""
        lons = _lists([[9.0, 9.1], [0.0, 2.0, 2.0], [5.0, 6.0], [7.0]])
        lats = _lists([[46.0, 46.1], [0.0, 0.0, 3.0], [1.0, 1.5], [8.0]])
        kinds = pa.array(["line", "polygon", "line", "polygon"])
        got = self._encode(kinds.slice(1, 2), lons.slice(1, 2), lats.slice(1, 2))
        assert got == [
            struct.pack("<BIII", 1, 3, 1, 4)
            + self._coords([0.0, 2.0, 2.0, 0.0], [0.0, 0.0, 3.0, 0.0]),
            struct.pack("<BII", 1, 2, 2) + self._coords([5.0, 6.0], [1.0, 1.5]),
        ]


class TestS2:
    def test_face_cell_tokens(self):
        # canonical level-0 tokens from the S2 cell id layout
        toks = [
            s2.token(s2.parent(s2.face_ij_to_id(np.array([f]), np.array([0]), np.array([0])), 0))[0]
            for f in range(6)
        ]
        assert toks == ["1", "3", "5", "7", "9", "b"]

    def test_leaf_roundtrip(self):
        rng = np.random.default_rng(42)
        lat = rng.uniform(-89, 89, 2000)
        lng = rng.uniform(-180, 180, 2000)
        ids = s2.cell_id(lat, lng)
        f, i, j = s2.id_to_face_ij(ids)
        assert (s2.face_ij_to_id(f, i, j) == ids).all()

    @pytest.mark.parametrize("level", [0, 7, 12, 20, 29])
    def test_parent_contains_leaf(self, level):
        rng = np.random.default_rng(1)
        ids = s2.cell_id(rng.uniform(-80, 80, 500), rng.uniform(-180, 180, 500))
        p = s2.parent(ids, level)
        lsb = s2.lsb_for_level(level)
        assert ((ids >= p - lsb + np.uint64(1)) & (ids <= p + lsb - np.uint64(1))).all()
        assert (s2.level_of(p) == level).all()

    def test_center_maps_back(self):
        rng = np.random.default_rng(5)
        p = s2.parent(
            s2.cell_id(rng.uniform(-60, 60, 300), rng.uniform(-170, 170, 300)), 11
        )
        clat, clng = s2.cell_center_latlng(p)
        assert (s2.cell_id(clat, clng, 11) == p).all()

    def test_token_roundtrip(self):
        ids = s2.cell_id(np.array([47.5]), np.array([8.5]), 12)
        assert s2.token_to_id(s2.token(ids)[0]) == int(ids[0])

    def test_bbox_covering_superset(self):
        rng = np.random.default_rng(7)
        cov = s2.bbox_covering(8.0, 47.0, 9.0, 48.0, 11)
        pts = s2.parent(
            s2.cell_id(rng.uniform(47, 48, 3000), rng.uniform(8, 9, 3000)), 11
        )
        assert np.isin(pts, cov).all()

    def test_bbox_covering_batch_matches_scalar(self):
        """The Arrow-batch covering (one vectorized pass over n bboxes)
        must be byte-identical to the scalar function per row."""
        rng = np.random.default_rng(13)
        x0 = rng.uniform(8, 8.9, 60)
        y0 = rng.uniform(47, 47.9, 60)
        x1 = x0 + rng.uniform(0.001, 0.1, 60)
        y1 = y0 + rng.uniform(0.001, 0.1, 60)
        for level in (8, 11, 13):
            ids, counts, over = s2.bbox_covering_batch(
                x0, y0, x1, y1, level, max_cells=256
            )
            assert not over.any()
            batch = np.split(ids, np.cumsum(counts)[:-1])
            for k in range(60):
                scalar = s2.bbox_covering(
                    float(x0[k]), float(y0[k]), float(x1[k]), float(y1[k]),
                    level, max_cells=256,
                )
                assert np.array_equal(batch[k], scalar), (level, k)

    def test_bbox_covering_batch_budget(self):
        """An over-budget row is reported, not raised, and gets no
        cells; a fitting row in the same batch equals the scalar cover."""
        ids, counts, over = s2.bbox_covering_batch(
            np.array([8.0, 8.5]), np.array([47.0, 47.5]),
            np.array([9.0, 8.502]), np.array([48.0, 47.502]), 14, max_cells=16,
        )
        assert over.tolist() == [True, False]
        assert counts[0] == 0 and counts[1] == len(ids) > 0
        assert np.array_equal(
            ids, s2.bbox_covering(8.5, 47.5, 8.502, 47.502, 14, max_cells=16)
        )
        with pytest.raises(ValueError, match="max_cells"):
            s2.bbox_covering(8.0, 47.0, 9.0, 48.0, 14, max_cells=16)


class TestHexGrid:
    def test_pack_unpack(self):
        rng = np.random.default_rng(2)
        lon, lat = rng.uniform(7, 10, 1000), rng.uniform(46, 49, 1000)
        for res in (7, 9, 12):
            c = hexgrid.hex_cell(lon, lat, res)
            r, q, rr = hexgrid.unpack(c)
            assert (r == res).all()
            assert (hexgrid.pack(res, q, rr) == c).all()

    def test_determinism_and_locality(self):
        lon = np.array([8.5, 8.5 + 1e-9])
        lat = np.array([47.5, 47.5])
        c = hexgrid.hex_cell(lon, lat, 12)
        assert c[0] == c[1]

    def test_center_round_trips(self):
        rng = np.random.default_rng(8)
        lon, lat = rng.uniform(7, 10, 500), rng.uniform(46, 49, 500)
        for res in (7, 10):
            c = hexgrid.hex_cell(lon, lat, res)
            clon, clat = hexgrid.hex_center(c)
            assert (hexgrid.hex_cell(clon, clat, res) == c).all()

    def test_k_ring_sizes(self):
        c = int(hexgrid.hex_cell(np.array([8.5]), np.array([47.5]), 9)[0])
        assert len(hexgrid.k_ring(c, 1)) == 7
        assert len(hexgrid.k_ring(c, 2)) == 19

    def test_neighbor_distance(self):
        c = int(hexgrid.hex_cell(np.array([8.5]), np.array([47.5]), 9)[0])
        ring = hexgrid.k_ring(c, 1)
        dists = sorted(hexgrid.grid_distance(c, int(x)) for x in ring)
        assert dists == [0, 1, 1, 1, 1, 1, 1]

    def test_aperture_seven_cell_area_ratio(self):
        # counts of points per cell shrink ~7x per res step
        rng = np.random.default_rng(11)
        lon, lat = rng.uniform(8, 9, 20000), rng.uniform(47, 48, 20000)
        n5 = len(np.unique(hexgrid.hex_cell(lon, lat, 5)))
        n6 = len(np.unique(hexgrid.hex_cell(lon, lat, 6)))
        assert 4 < n6 / n5 < 10


def test_way_cells_covering_superset(spark):
    """North-rule geometry cells: every vertex's S2 cell at the chosen
    cover level must be inside the way's covering token set, and every
    vertex hex cell must appear in the per-res cell arrays."""
    import numpy as np

    from osm2shp_spark.functions import hexgrid, s2
    from osm2shp_spark.functions.udfs import with_way_cells
    from osm2shp_spark.operators.assemble import assemble_ways
    from osm2shp_spark.sources.synthetic import synthetic_nodes, synthetic_ways
    from conftest import SF_SMALL

    assembled = assemble_ways(
        synthetic_nodes(spark, SF_SMALL), synthetic_ways(spark, SF_SMALL)
    )
    rows = (
        with_way_cells(assembled, hex_resolutions=(7, 9))
        .select("lons", "lats", "s2_cover_level", "s2_cover_tokens",
                "hex_r7_cells", "hex_r9_cells")
        .limit(100)
        .collect()
    )
    assert rows
    for r in rows:
        lo = np.array(r.lons)
        la = np.array(r.lats)
        toks = set(r.s2_cover_tokens)
        vert_toks = s2.token(s2.cell_id(la, lo, r.s2_cover_level))
        assert set(vert_toks) <= toks, "covering missed a vertex cell"
        assert set(hexgrid.hex_cell(lo, la, 7).tolist()) == set(r.hex_r7_cells)
        assert set(hexgrid.hex_cell(lo, la, 9).tolist()) == set(r.hex_r9_cells)


def test_decode_ppm_truncated_comment_raises():
    """A header comment without a trailing newline must raise, not spin
    forever on the out-of-range slice."""
    from osm2shp_spark.functions.image import decode_ppm

    with pytest.raises(ValueError, match="truncated"):
        decode_ppm(b"P6 #no newline ever")


def test_block_mean_resize_upscale_no_nan():
    """Output axes larger than the source must degrade to nearest-
    neighbor sampling, never NaN from empty block slices."""
    from osm2shp_spark.functions.image import _block_mean_resize

    src = np.arange(16, dtype=np.float64).reshape(4, 4)
    up = _block_mean_resize(src, 8, 8)
    assert not np.isnan(up).any()
    # downscale values unchanged by the clamp (blocks already non-empty)
    down = _block_mean_resize(src, 2, 2)
    assert down.tolist() == [[2.5, 4.5], [10.5, 12.5]]


def test_way_cells_udf_empty_geometry_no_hang(spark):
    """A zero-vertex geometry row must produce empty cell arrays — the
    adaptive covering loop once swallowed the ValueError from min() on
    an empty array and spun forever."""
    from osm2shp_spark.functions.udfs import with_way_cells

    df = spark.createDataFrame(
        [(1, [8.1, 8.2], [47.1, 47.2]), (2, [], [])],
        "way_id INT, lons ARRAY<DOUBLE>, lats ARRAY<DOUBLE>",
    )
    got = {r.way_id: r for r in with_way_cells(df).collect()}
    assert got[2].s2_cover_tokens == [] and got[2].hex_r7_cells == []
    assert len(got[1].s2_cover_tokens) > 0 and len(got[1].hex_r7_cells) > 0


def test_way_cells_mixed_batch_matches_per_row_reference():
    """One batch holding a tiny way, a 3-degree way and an empty way:
    every row's cover level, tokens and hex arrays equal a per-row
    reference built from the scalar covering and ``np.unique``."""
    from osm2shp_spark.functions.udfs import HEX_RESOLUTIONS, way_cells_udf

    lons = [[8.5, 8.5004, 8.5002], [7.0, 10.0, 8.5, 7.0], []]
    lats = [[47.5, 47.5001, 47.5004], [46.0, 46.5, 49.0, 46.0], []]
    got = way_cells_udf(12, HEX_RESOLUTIONS).func(_lists(lons), _lists(lats))
    got = got.to_pylist()
    levels = []
    for lo, la, row in zip(lons[:2], lats[:2], got):
        lo, la = np.array(lo), np.array(la)
        level = 12
        while True:
            try:
                ids = s2.bbox_covering(
                    lo.min(), la.min(), lo.max(), la.max(), level, max_cells=64
                )
                break
            except ValueError:
                level -= 2
        levels.append(level)
        assert row["s2_cover_level"] == level
        assert row["s2_cover_tokens"] == list(s2.token(ids))
        for r in HEX_RESOLUTIONS:
            ref = np.unique(hexgrid.hex_cell(lo, la, r)).tolist()
            assert row[f"hex_r{r}_cells"] == ref
    assert levels[0] == 12 > levels[1]
    assert got[2] == {
        "s2_cover_level": 12,
        "s2_cover_tokens": [],
        **{f"hex_r{r}_cells": [] for r in HEX_RESOLUTIONS},
    }
