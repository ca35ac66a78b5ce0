"""geom_batch parity: the CSR-expansion batch kernels must reproduce the
per-zone loops bit-for-bit (distances, inside flags, cover-cell
classification, clip totals) — the round-6 optimization contract."""

import numpy as np
import pandas as pd
import pytest

from osm_chordify_spark import cellindex as ci
from osm_chordify_spark import geom as G
from osm_chordify_spark import geom_batch as GB
from osm_chordify_spark.operators import zoneindex as ZI

rng = np.random.RandomState(42)


def _rand_poly(cx, cy, r, n=8, hole=False):
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    rad = r * rng.uniform(0.5, 1.0, n)
    ring = np.stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)], axis=1)
    rings = [ring]
    if hole:
        hang = np.sort(rng.uniform(0, 2 * np.pi, 5))
        rings.append(
            np.stack(
                [cx + 0.3 * r * np.cos(hang), cy + 0.3 * r * np.sin(hang)],
                axis=1,
            )
        )
    return rings


@pytest.fixture(scope="module")
def zones():
    zs = []
    for i in range(300):
        cx, cy = rng.uniform(-50, 50, 2)
        kind = i % 5
        if kind == 0:
            zs.append([_rand_poly(cx, cy, rng.uniform(0.5, 5))])
        elif kind == 1:
            zs.append([_rand_poly(cx, cy, rng.uniform(0.5, 5), hole=True)])
        elif kind == 2:
            zs.append([_rand_poly(cx, cy, 2), _rand_poly(cx + 8, cy, 1.5)])
        elif kind == 3:
            w = rng.uniform(0.1, 2)
            zs.append([[np.array(
                [[cx, cy], [cx + w, cy], [cx + w, cy + w], [cx, cy + w]]
            )]])
        else:
            zs.append([_rand_poly(cx, cy, 30, n=12)])
    zs.append([[np.array([[1.0, 1.0]])]])  # degenerate single-point ring
    zs.append([])  # empty zone
    return zs


def _score_one(polys, px, py):
    """The pre-round-6 per-zone scorer, verbatim."""
    inside = np.zeros(len(px), dtype=bool)
    for rings in polys:
        inside |= G.point_in_polygon(px, py, rings)
    best = np.full(len(px), np.inf)
    for rings in polys:
        for ring in rings:
            r = G.ring_close(ring)
            for i in range(len(r) - 1):
                d = G.point_segment_dist(
                    px, py, r[i, 0], r[i, 1], r[i + 1, 0], r[i + 1, 1]
                )
                best = np.minimum(best, np.asarray(d, dtype=np.float64))
    best[inside] = 0.0
    return best, inside


def test_min_dist_inside_bit_parity(zones):
    codes = rng.randint(0, len(zones), 5000)
    qx = rng.uniform(-60, 60, 5000)
    qy = rng.uniform(-60, 60, 5000)
    fz = GB.FlatZones(zones)
    best_b, inside_b = fz.min_dist_inside(codes, qx, qy)
    for z in np.unique(codes):
        m = codes == z
        b, ins = _score_one(zones[z], qx[m], qy[m])
        assert np.array_equal(inside_b[m], ins), f"inside mismatch zone {z}"
        assert np.array_equal(best_b[m], b), f"dist mismatch zone {z}"


def test_inside_points_bit_parity(zones):
    codes = rng.randint(0, len(zones), 3000)
    qx = rng.uniform(-60, 60, 3000)
    qy = rng.uniform(-60, 60, 3000)
    fz = GB.FlatZones(zones)
    got = fz.inside_points(codes, qx, qy)
    for z in np.unique(codes):
        m = codes == z
        ref = np.zeros(int(m.sum()), dtype=bool)
        for rings in zones[z]:
            ref |= G.point_in_polygon(qx[m], qy[m], rings)
        assert np.array_equal(got[m], ref), f"zone {z}"


def test_zone_cover_cells_batch_parity(zones):
    _cover_parity(zones, 9, ci.WORLD)


def test_clip_pairs_totals_bit_parity(zones):
    from osm_chordify_spark.operators.intersect import _exact_clip_edges_vs_zone

    # edges: random polylines (1-3 segments)
    edges = []
    for _ in range(120):
        n = rng.randint(2, 5)
        pts = np.cumsum(rng.uniform(-3, 3, (n, 2)), axis=0) + rng.uniform(
            -50, 50, 2
        )
        edges.append([pts])
    ecodes = rng.randint(0, len(edges), 4000)
    zcodes = rng.randint(0, len(zones), 4000)
    totals = GB.clip_pairs_totals(edges, ecodes, zones, zcodes)
    # reference: the per-zone batch clip over each zone's pairs
    for z in np.unique(zcodes):
        m = zcodes == z
        lines = [edges[e] for e in ecodes[m]]
        ref, _ = _exact_clip_edges_vs_zone(lines, zones[z], False)
        assert np.array_equal(totals[m], ref), f"zone {z}"


def test_flatzones_degenerate_and_empty():
    zs = [[[np.array([[1.0, 1.0]])]], [], [[np.array([[0, 0], [1, 0], [1, 1], [0, 1]], float)]]]
    fz = GB.FlatZones(zs)
    codes = np.array([0, 1, 2, 2])
    best, inside = fz.min_dist_inside(codes, np.array([0.5, 0.5, 0.5, 5.0]),
                                      np.array([0.5, 0.5, 0.5, 0.5]))
    assert np.isinf(best[0]) and np.isinf(best[1])
    assert not inside[0] and not inside[1]
    assert inside[2] and best[2] == 0.0
    assert not inside[3] and best[3] == pytest.approx(4.0)


# -- adversarial cover parity ---------------------------------------------------
# GRID is a 64 × 64 world: at res 6 every cell is the unit square
# [i, i + 1] × [j, j + 1], so integer coordinates sit exactly on cell
# boundaries and a cover row's corner y is an integer.
GRID = (0.0, 0.0, 64.0, 64.0)


def _sq(x0, y0, x1, y1):
    return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]], dtype=float)


def _cover_parity(zones, res, world, mx=4096):
    """Batch cover ≡ per-zone ``zone_min_res`` + ``zone_cover_cells``,
    with one row per (zone, cell)."""
    zidx, cells, fulls, zres = GB.zone_cover_cells_batch(
        zones, res, world, mx, return_res=True
    )
    pairs = list(zip(zidx.tolist(), cells.tolist()))
    assert len(pairs) == len(set(pairs)), "duplicate (zone, cell) rows"
    got: dict = {}
    for z, c, f in zip(zidx.tolist(), cells.tolist(), fulls.tolist()):
        got.setdefault(z, {})[c] = f
    for u, polys in enumerate(zones):
        if not polys:
            assert u not in got
            continue
        zr = ZI.zone_min_res(polys, res, world, mx)
        assert int(zres[u]) == zr, (u, zres[u], zr)
        ref = {int(k): bool(v) for k, v in ZI.zone_cover_cells(polys, zr, world, mx).items()}
        assert got.get(u, {}) == ref, f"zone {u}"
    return got


def test_cover_dedupe_multipolygon_next_to_empty_zone():
    # two polygons of one zone share cells; the empty zone before it
    # makes #polygons == #zones, which must not skip the dedupe
    zones = [[], [[_sq(1, 1, 5, 5)], [_sq(3.5, 3.5, 8, 8)]]]
    got = _cover_parity(zones, 6, GRID)
    assert got[1][ci.make_cell(6, 4, 4)]  # full in the second polygon only


def test_cover_parity_vertices_and_edges_on_cell_boundaries():
    zones = [
        [[_sq(2, 2, 9, 7)]],  # every edge on a grid line
        [[np.array([[10, 10], [20, 10], [10, 20]], float)]],  # diagonal through corners
        [[np.array([[30, 5], [34, 5], [34, 9], [32, 7], [30, 9]], float)]],
        [[_sq(40, 40, 41, 41)]],  # exactly one cell
        [[np.array([[50, 50], [52, 52], [54, 50], [52, 48]], float)]],  # corners on edges
    ]
    _cover_parity(zones, 6, GRID)
    # the default world at res 9: cell edges are multiples of 0.703125
    w, h = 360 / 512, 180 / 512
    _cover_parity([[[_sq(-180 + 3 * w, -90 + 5 * h, -180 + 11 * w, -90 + 9 * h)]]], 9, ci.WORLD)


def test_cover_parity_horizontal_segments_on_row_corner_y():
    # staircase: every horizontal edge lies on a row's corner y, where
    # the half-open winding rule (AY <= Y < BY) decides the corner
    stair = np.array(
        [[5, 5], [15, 5], [15, 7], [12, 7], [12, 9.5], [9, 9.5], [9, 12], [5, 12]],
        float,
    )
    comb = np.array(
        [[20, 20], [30, 20], [30, 25], [28, 25], [28, 22], [26, 22], [26, 25],
         [24, 25], [24, 22], [22, 22], [22, 25], [20, 25]],
        float,
    )
    zones = [[[stair]], [[comb]], [[stair[::-1].copy()]], [[comb[::-1].copy()]]]
    _cover_parity(zones, 6, GRID)


def test_cover_parity_long_diagonals():
    zones = [
        [[np.array([[0.5, 0.5], [60.3, 59.7], [1.2, 3.1]], float)]],
        [[np.array([[63.5, 0.25], [0.75, 62.5], [2.5, 63.5], [63.9, 1.9]], float)]],
        [[np.array([[0, 0], [64, 64], [0, 64]], float)]],  # whole-world diagonal
    ]
    _cover_parity(zones, 6, GRID)


def test_cover_parity_coarsened_zone_next_to_res_zones():
    # max_cells 64: the big zone coarsens, its neighbours stay at res
    big = [_rand_poly(32, 32, 25, n=40)]
    zones = [[[_sq(2, 2, 5, 4)]], big, [_rand_poly(50, 10, 3)], [[_sq(60, 60, 63, 63)]]]
    _cover_parity(zones, 6, GRID, mx=64)
    zres = GB.zone_cover_cells_batch(zones, 6, GRID, 64, return_res=True)[3]
    assert zres[1] < 6 and zres[0] == zres[2] == zres[3] == 6


def test_cover_parity_holes():
    zones = [
        [[_sq(2, 2, 20, 20), _sq(6, 6, 10, 10)[::-1].copy()]],  # grid-aligned hole
        [[_sq(30, 30, 45, 45), _sq(33.5, 33.5, 36.5, 36.5)[::-1].copy(),
          _sq(40, 31, 44, 44)[::-1].copy()]],  # two holes, one touching a corner row
        [_rand_poly(50, 50, 8, n=24, hole=True)],
    ]
    _cover_parity(zones, 6, GRID)


def test_cover_parity_multipolygon_parts_share_cells():
    zones = [
        [[_sq(1, 1, 6, 6)], [_sq(4, 4, 9, 9)]],  # overlapping parts
        [[_sq(10.2, 10.2, 10.4, 10.4)], [_sq(10.6, 10.6, 10.8, 10.8)]],  # one cell
        [[_sq(20, 20, 30, 30)], [_sq(24.3, 24.3, 24.6, 24.6)]],  # part in a full cell
        [[_sq(40, 40, 42, 42)], [_sq(42, 40, 44, 42)]],  # parts share an edge
    ]
    _cover_parity(zones, 6, GRID)


def test_cover_parity_240_vertex_ring():
    ang = np.linspace(0, 2 * np.pi, 240, endpoint=False)
    rad = 20 * (1 + 0.15 * np.sin(7 * ang)) * rng.uniform(0.95, 1.0, 240)
    ring = np.stack([32 + rad * np.cos(ang), 32 + rad * np.sin(ang)], axis=1)
    _cover_parity([[[ring]], [[ring[::-1].copy()]]], 6, GRID)
    _cover_parity([[[ring]]], 8, GRID)


def test_cover_parity_degenerate_and_empty_rings():
    zones = [
        [[np.array([[3.5, 3.5]])]],  # one point
        [[np.array([[4.0, 4.0], [4.0, 4.0], [4.0, 4.0]])]],  # repeated corner point
        [[np.array([[6.0, 6.0], [9.0, 8.0]])]],  # two-point ring
        [[np.array([[10, 10], [14, 10], [12, 10]], float)]],  # zero-area ring
        [],  # empty zone
        [[_sq(20, 20, 24, 24), np.array([[21.5, 21.5]])]],  # degenerate hole
        [[_sq(30, 30, 33, 33)], [np.array([[31.0, 31.0]])]],  # degenerate part
        [[_sq(-3, -3, 2.5, 2.5)]],  # clamped at the world edge
    ]
    _cover_parity(zones, 6, GRID)
    # a polygon with an empty outer ring covers nothing
    zidx, _c, _f, bbox = GB.zone_cover_cells_batch(
        [[[np.empty((0, 2))]], [[_sq(1, 1, 2, 2)]], [[np.empty((0, 2))]],
         [[_sq(3, 4, 5, 6)]]], 6, GRID, 4096, return_bbox=True
    )
    assert set(zidx.tolist()) == {1, 3}
    assert np.array_equal(np.stack(bbox)[:, [1, 3]], [[1, 3], [1, 4], [2, 5], [2, 6]])
