"""The broadcast PIP kernel (`points_in_buildings` over a `BuildingIndex`)
against `geometry.points_in_polygon`, bit for bit, without Spark."""

import dataclasses

import numpy as np
import pandas as pd

from osm_data_3d_tiles_spark.functions import geometry as g
from osm_data_3d_tiles_spark.functions import mercator as m
from osm_data_3d_tiles_spark.operators.spatial_join import BuildingIndex, points_in_buildings

Z = 20
SPAN = m.tile_span(Z)
X0 = -m.HALF_SIZE + 512_000 * SPAN
Y0 = m.HALF_SIZE - 512_000 * SPAN


def _index(buildings):
    """buildings: {osm_id: [ring (n, 2)]} → BuildingIndex at Z."""
    geoms = pd.DataFrame(
        {"osm_id": list(buildings), "geometry": [[r.tolist() for r in rs] for rs in buildings.values()]}
    )
    return BuildingIndex.from_frame(geoms, Z)


def _reference(buildings, x, y):
    """(point, osm_id) pairs of `points_in_polygon` over all points, no prefilter."""
    pts = np.column_stack([x, y])
    out = set()
    for b, rings in buildings.items():
        inside = g.points_in_polygon(pts, [g.ring_xy(r) for r in rings])
        out |= {(int(i), b) for i in np.flatnonzero(inside)}
    return out


def _kernel(index, x, y):
    pts, osm_ids = points_in_buildings(index, x, y)
    pairs = list(zip(pts.tolist(), osm_ids.tolist()))
    assert len(pairs) == len(set(pairs))
    return set(pairs)


def _square(x, y, w, h):
    return np.array([[x, y], [x + w, y], [x + w, y - h], [x, y - h], [x, y]])


def _random_buildings(rng, n):
    out = {}
    for b in range(n):
        cx, cy = X0 + rng.uniform(0, 40 * SPAN), Y0 - rng.uniform(0, 40 * SPAN)
        k = int(rng.integers(3, 14))
        ang = np.sort(rng.uniform(0, 2 * np.pi, k))
        rad = rng.uniform(3, 50, k)
        ring = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
        rings = [np.vstack([ring, ring[:1]])]
        if b % 3 == 0:  # a hole, left open (no closing vertex)
            rings.append(np.column_stack([cx + 2 * np.cos(ang), cy + 2 * np.sin(ang)]))
        out[100 + b] = rings
    return out


def _near(x, y):
    """Each point and its eight one-ulp neighbours."""
    xs = [np.nextafter(x, -np.inf), x, np.nextafter(x, np.inf)]
    ys = [np.nextafter(y, -np.inf), y, np.nextafter(y, np.inf)]
    return (
        np.concatenate([a for a in xs for _ in ys]),
        np.concatenate([b for _ in xs for b in ys]),
    )


class TestKernelParity:
    def test_random_points_and_polygons(self):
        rng = np.random.default_rng(7)
        buildings = _random_buildings(rng, 120)
        index = _index(buildings)
        x = X0 + rng.uniform(-2 * SPAN, 42 * SPAN, 20_000)
        y = Y0 - rng.uniform(-2 * SPAN, 42 * SPAN, 20_000)
        # every vertex, points where a ray's crossing x lands on an edge (as
        # points_in_ring computes it) and their one-ulp neighbours
        verts = np.concatenate([r for rs in buildings.values() for r in rs])
        xi, yi = verts[:, 0], verts[:, 1]
        xj, yj = np.roll(xi, 1), np.roll(yi, 1)
        ey = yi + rng.uniform(0, 1, len(verts)) * (yj - yi)
        with np.errstate(divide="ignore", invalid="ignore"):
            ex = (xj - xi) * (ey - yi) / (yj - yi) + xi
        keep = np.isfinite(ex)
        vx, vy = _near(np.concatenate([xi, ex[keep]]), np.concatenate([yi, ey[keep]]))
        x, y = np.concatenate([x, vx]), np.concatenate([y, vy])
        want = _reference(buildings, x, y)
        assert len(want) > 500
        assert _kernel(index, x, y) == want

    def test_adversarial_points(self):
        outer = _square(X0 + 3.0, Y0 - 3.0, 20.0, 10.0)
        hole = _square(X0 + 8.0, Y0 - 5.0, 4.0, 4.0)
        second = _square(X0 + 40.0, Y0 - 3.0, 10.0, 10.0)  # two-outer multipolygon
        on_cells = _square(X0, Y0, SPAN, 2 * SPAN)  # vertices on z20 cell corners
        buildings = {
            1: [outer, hole],
            2: [outer, second],
            3: [outer, np.empty((0, 2))],  # an empty ring
            4: [],  # no rings: no edges, no cells
            5: [np.empty((0, 2))],  # only an empty ring
            6: [on_cells],
        }
        index = _index(buildings)
        xs, ys = [], []
        for ring in (outer, hole, second, on_cells):
            mid = (ring[:-1] + ring[1:]) / 2  # on edges, horizontal ones included
            for px, py in ((ring[:, 0], ring[:, 1]), (mid[:, 0], mid[:, 1])):  # on vertices
                nx, ny = _near(px, py)
                xs += nx.tolist()
                ys += ny.tolist()
        xs += [X0 + 10.0, X0 + 5.0, X0 + 45.0, X0 + 30.0, X0 + 3.0, X0 + 23.0]
        ys += [Y0 - 7.0, Y0 - 4.0, Y0 - 8.0, Y0 - 8.0, Y0 - 8.0, Y0 - 3.0]
        x, y = np.array(xs), np.array(ys)
        got = _kernel(index, x, y)
        assert got == _reference(buildings, x, y)
        assert (len(xs) - 6, 1) not in got  # inside the hole
        assert (len(xs) - 5, 1) in got
        assert (len(xs) - 4, 2) in got  # inside the second outer
        assert any(b == 6 for _, b in got)
        assert not {b for _, b in got} & {4, 5}

    def test_candidate_without_edges(self):
        """A building that is a candidate but has no edges contains nothing."""
        buildings = {1: [_square(X0 + 3.0, Y0 - 3.0, 20.0, 10.0)], 2: []}
        index = _index(buildings)
        slot = int(np.flatnonzero(index.osm_ids == 2)[0])
        keys = np.concatenate([index.keys, index.keys])
        order = np.argsort(keys, kind="stable")
        slots = np.concatenate([index.slots, np.full(len(index.keys), slot)])[order]
        both = dataclasses.replace(index, keys=keys[order], slots=slots)
        x, y = np.array([X0 + 10.0, X0 + 50.0]), np.array([Y0 - 5.0, Y0 - 5.0])
        assert _kernel(both, x, y) == {(0, 1)}

    def test_batch_without_cell_hits(self):
        buildings = {1: [_square(X0 + 3.0, Y0 - 3.0, 20.0, 10.0)]}
        index = _index(buildings)
        x = X0 + 1000 * SPAN + np.arange(10.0)
        pts, osm_ids = points_in_buildings(index, x, np.full(10, Y0 - 5.0))
        assert pts.dtype.kind == "i" and len(pts) == 0 and len(osm_ids) == 0
        pts, osm_ids = points_in_buildings(index, np.empty(0), np.empty(0))
        assert len(pts) == 0 and len(osm_ids) == 0

    def test_non_finite_and_off_grid_points_join_nothing(self):
        buildings = {1: [_square(X0 + 3.0, Y0 - 3.0, 20.0, 10.0)]}
        index = _index(buildings)
        x = np.array(
            [X0 + 10.0, np.nan, X0 + 10.0, np.inf, X0 + 10.0, X0 + 10.0, m.HALF_SIZE, 1e300]
        )
        y = np.array([Y0 - 5.0, Y0 - 5.0, np.nan, Y0 - 5.0, -np.inf, 3e8, Y0 - 5.0, Y0 - 5.0])
        with np.errstate(all="raise"):
            pts, osm_ids = points_in_buildings(index, x, y)
        assert pts.tolist() == [0] and osm_ids.tolist() == [1]

    def test_empty_index(self):
        index = _index({})
        assert len(index.keys) == 0
        pts, _ = points_in_buildings(index, np.array([X0 + 1.0]), np.array([Y0 - 1.0]))
        assert len(pts) == 0

    def test_many_edges_split_into_chunks(self, monkeypatch):
        """A batch whose (candidate, edge) rows exceed one pass decides the
        same pairs as one pass."""
        from osm_data_3d_tiles_spark.operators import spatial_join as sj

        rng = np.random.default_rng(11)
        buildings = _random_buildings(rng, 30)
        index = _index(buildings)
        x = X0 + rng.uniform(0, 40 * SPAN, 5_000)
        y = Y0 - rng.uniform(0, 40 * SPAN, 5_000)
        whole = _kernel(index, x, y)
        monkeypatch.setattr(sj, "_EDGE_ROWS", 7)
        assert _kernel(index, x, y) == whole
        assert len(whole) > 50
