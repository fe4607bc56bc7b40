"""Unit tests for the numpy geometry kernels (SURVEY.md §5: PIP edge
cases + holes, WKB round-trip, Douglas-Peucker containment loop,
validity reasons, representative point)."""

import numpy as np
import pytest

from posmspark import geom


SQUARE = np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0], [0.0, 0.0]])
HOLE = np.array([[4.0, 4.0], [4.0, 6.0], [6.0, 6.0], [6.0, 4.0], [4.0, 4.0]])


def test_pip_basic():
    px = np.array([5.0, -1.0, 11.0, 5.0, 5.0])
    py = np.array([5.0, 5.0, 5.0, -1.0, 11.0])
    got = geom.points_in_rings(px, py, [SQUARE])
    assert got.tolist() == [True, False, False, False, False]


def test_pip_hole():
    px = np.array([5.0, 3.0, 4.5])
    py = np.array([5.0, 3.0, 5.0])
    got = geom.points_in_rings(px, py, [SQUARE, HOLE])
    assert got.tolist() == [False, True, False]


def test_pip_concave():
    # C-shape: interior notch on the right
    ring = np.array(
        [[0, 0], [10, 0], [10, 3], [3, 3], [3, 7], [10, 7], [10, 10],
         [0, 10], [0, 0]], dtype=np.float64
    )
    px = np.array([5.0, 1.5, 5.0, 5.0])
    py = np.array([5.0, 5.0, 1.5, 8.5])
    got = geom.points_in_rings(px, py, [ring])
    assert got.tolist() == [False, True, True, True]


def test_pip_multipolygon():
    sq2 = SQUARE + np.array([20.0, 0.0])
    got = geom.points_in_multipolygon(
        np.array([5.0, 25.0, 15.0]), np.array([5.0, 5.0, 5.0]),
        [[SQUARE], [sq2]],
    )
    assert got.tolist() == [True, True, False]


def test_wkb_roundtrip():
    polys = [[SQUARE, HOLE], [SQUARE + 30.0]]
    buf = geom.multipolygon_to_wkb(polys)
    back = geom.wkb_to_multipolygon(buf)
    assert len(back) == 2 and len(back[0]) == 2
    for a, b in zip([r for p in polys for r in p], [r for p in back for r in p]):
        np.testing.assert_array_equal(a, b)


def test_wkb_single_polygon_accepted():
    import struct

    # hand-build a WKB Polygon (type 3) and parse it
    ring = SQUARE
    buf = struct.pack("<BIII", 1, 3, 1, len(ring)) + ring.astype("<f8").tobytes()
    back = geom.wkb_to_multipolygon(buf)
    np.testing.assert_array_equal(back[0][0], ring)


def test_bbox():
    assert geom.multipolygon_bbox([[SQUARE, HOLE]]) == (0.0, 0.0, 10.0, 10.0)


def test_douglas_peucker_collinear_removed():
    line = np.array([[0.0, 0.0], [1.0, 0.0001], [2.0, 0.0], [3.0, 0.0001],
                     [4.0, 0.0]])
    out = geom.douglas_peucker(line, 0.01)
    assert len(out) == 2
    np.testing.assert_array_equal(out[0], line[0])
    np.testing.assert_array_equal(out[-1], line[-1])


def test_douglas_peucker_keeps_significant_vertex():
    line = np.array([[0.0, 0.0], [5.0, 3.0], [10.0, 0.0]])
    out = geom.douglas_peucker(line, 0.5)
    assert len(out) == 3


def test_simplify_ring_stays_closed():
    theta = np.linspace(0, 2 * np.pi, 101)
    ring = np.stack([np.cos(theta), np.sin(theta)], axis=1)
    ring[-1] = ring[0]
    out = geom.simplify_ring_closed(ring, 0.01)
    assert len(out) >= 4
    np.testing.assert_array_equal(out[0], out[-1])
    assert len(out) < len(ring)


def test_snap_to_grid():
    # ST_SnapToGrid(geom, 0.00005) analog (process.py:85-102)
    arr = np.array([1.000024, 1.000026, -0.000051])
    np.testing.assert_allclose(
        geom.snap_to_grid(arr), [1.0, 1.00005, -0.00005], atol=1e-12
    )


def test_buffer_contains_original():
    # the checkGeom loop invariant (extract_poly.py:51-69): buffered ⊇ original
    buf = geom.buffer_ring(SQUARE, 0.5)
    rng = np.random.default_rng(3)
    px = rng.uniform(0, 10, 2000)
    py = rng.uniform(0, 10, 2000)
    assert geom.points_in_rings(px, py, [buf]).all()


def test_validity_bowtie():
    bowtie = np.array([[0.0, 0.0], [2.0, 2.0], [2.0, 0.0], [0.0, 2.0], [0.0, 0.0]])
    ok, reason, lon, lat = geom.validity_reason([[bowtie]])
    assert not ok and reason == "Self-intersection"
    assert lon == pytest.approx(1.0) and lat == pytest.approx(1.0)


def test_validity_good():
    ok, reason, _, _ = geom.validity_reason([[SQUARE, HOLE]])
    assert ok and reason is None


def test_validity_too_few_points():
    tri = np.array([[0.0, 0.0], [1.0, 0.0], [0.0, 0.0]])
    ok, reason, _, _ = geom.validity_reason([[tri]])
    assert not ok and "Too few points" in reason


def test_representative_point_inside():
    for polys in [[[SQUARE]], [[SQUARE, HOLE]],
                  [[np.array([[0, 0], [10, 0], [10, 3], [3, 3], [3, 7],
                              [10, 7], [10, 10], [0, 10], [0, 0]],
                             dtype=np.float64)]]]:
        x, y = geom.representative_point(polys)
        assert geom.points_in_multipolygon(np.array([x]), np.array([y]), polys)[0]


def test_haversine_known_distance():
    # 1 degree of latitude ~ 111.2 km
    d = geom.haversine_m(0.0, 0.0, 0.0, 1.0)
    assert 110_000 < float(d) < 112_500
    assert float(geom.haversine_m(12.0, 34.0, 12.0, 34.0)) == 0.0


def test_normalize_multipolygon():
    """G9/G10/G14: close rings, drop degenerates, fix winding."""
    unclosed = np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0]])
    cw_outer = SQUARE[::-1].copy()          # outer wound CW (wrong)
    ccw_hole = HOLE[::-1].copy()            # hole wound CCW (wrong)
    degenerate = np.array([[9.0, 9.0], [9.0, 9.0], [9.0, 9.0], [9.0, 9.0]])
    out = geom.normalize_multipolygon(
        [[unclosed], [cw_outer, ccw_hole], [degenerate]])
    assert len(out) == 2  # degenerate polygon dropped entirely
    np.testing.assert_array_equal(out[0][0][0], out[0][0][-1])  # closed
    assert geom.ring_area(out[1][0]) > 0      # outer CCW
    assert geom.ring_area(out[1][1]) < 0      # hole CW


def test_pip_matrix_and_loop_paths_agree():
    """The two PIP regimes (edge-matrix for few points, edge-loop for
    many) must agree exactly on a jagged 5k-vertex ring, including on
    boundary-grazing horizontal edges."""
    t = np.linspace(0, 2 * np.pi, 5001)
    r = 1.0 + 0.1 * np.sin(50 * t)
    ring = np.column_stack([r * np.cos(t), r * np.sin(t)])
    ring[-1] = ring[0]
    rng = np.random.default_rng(0)
    px = rng.uniform(-1.2, 1.2, 1000)
    py = rng.uniform(-1.2, 1.2, 1000)
    a = geom._pir_edge_matrix(px, py, [ring])
    b = geom._pir_edge_loop(px, py, [ring])
    assert np.array_equal(a, b)
    # dispatch respects both regimes
    few = geom.points_in_rings(px[:3], py[:3], [ring])
    assert np.array_equal(few, b[:3])
    many = geom.points_in_rings(px, py, [ring])
    assert np.array_equal(many, b)


def test_pip_horizontal_edges_consistent():
    """Rect with horizontal edges: the matrix path's divide-by-zero
    masking must match the loop path."""
    rect = np.array([[0., 0.], [4., 0.], [4., 2.], [0., 2.], [0., 0.]])
    px = np.array([1.0, 5.0, 2.0, -1.0])
    py = np.array([1.0, 1.0, 2.5, 1.0])
    a = geom._pir_edge_matrix(px, py, [rect])
    b = geom._pir_edge_loop(px, py, [rect])
    assert np.array_equal(a, b)
    assert list(a) == [True, False, False, False]


def test_clip_ring_bbox_basic():
    rect = np.array([[0., 0.], [4., 0.], [4., 4.], [0., 4.], [0., 0.]])
    out = geom.clip_ring_bbox(rect, (1, 1, 3, 5))
    assert out is not None
    assert geom.ring_area(out) == pytest.approx(2 * 3)
    assert out[:, 0].min() >= 1 and out[:, 0].max() <= 3
    # empty intersection
    assert geom.clip_ring_bbox(rect, (10, 10, 12, 12)) is None
    # orientation preserved for holes (CW stays CW)
    hole = rect[::-1].copy()
    h = geom.clip_ring_bbox(hole, (1, 1, 3, 5))
    assert geom.ring_area(h) == pytest.approx(-6)


def test_clip_area_additivity_over_tile_grid():
    """Clipping a jagged polygon-with-hole to a grid of tiles must
    partition its area exactly."""
    t = np.linspace(0, 2 * np.pi, 101)
    r = 3.0 + 0.5 * np.sin(9 * t)
    outer = np.column_stack([5 + r * np.cos(t), 5 + r * np.sin(t)])
    outer[-1] = outer[0]
    hole = np.array([[4., 4.], [6., 4.], [6., 6.], [4., 6.], [4., 4.]])[::-1]
    polys = [[outer, hole.copy()]]
    total = sum(geom.ring_area(rg) for rings in polys for rg in rings)

    acc = 0.0
    for i in range(10):
        for j in range(10):
            clipped = geom.clip_multipolygon_bbox(
                polys, (i, j, i + 1.0, j + 1.0))
            acc += sum(geom.ring_area(rg) for rings in clipped
                       for rg in rings)
    assert acc == pytest.approx(total, rel=1e-12)


def test_representative_point_thin_sliver():
    """Review regression: a long thin diagonal sliver (width far below
    the scan-grid spacing) must still yield an interior point instead
    of raising."""
    w = 1e-7
    sliver = np.array([
        [0.0, 0.0], [1.0, 1.0], [1.0 + w, 1.0], [w, 0.0], [0.0, 0.0]])
    px, py = geom.representative_point([[sliver]])
    assert geom.points_in_rings(np.array([px]), np.array([py]),
                                [sliver])[0]


def test_normalize_multipolygon_degenerate_outer_drops_polygon():
    """Review regression: if the outer ring collapses, its holes must
    not be promoted to a negative-area 'polygon'."""
    zero = np.array([[0., 0.], [1., 0.], [0., 0.]])
    hole = np.array([[0., 0.], [0., 1.], [1., 1.], [1., 0.], [0., 0.]])  # CW
    out = geom.normalize_multipolygon([[zero, hole]])
    assert out == [] or all(geom.ring_area(p[0]) > 0 for p in out)


def test_douglas_peucker_tolerance_property_fuzz():
    """r03 fuzz (bounded): every original vertex must lie within tol of
    the simplified chain, endpoints pinned (300-seed run clean)."""
    def dist_pts_to_chain(pts, chain):
        d = np.full(len(pts), np.inf)
        a, b = chain[:-1], chain[1:]
        for i in range(len(a)):
            dx, dy = b[i, 0] - a[i, 0], b[i, 1] - a[i, 1]
            L2 = dx * dx + dy * dy
            if L2 == 0:
                continue
            t = np.clip(
                ((pts[:, 0] - a[i, 0]) * dx
                 + (pts[:, 1] - a[i, 1]) * dy) / L2, 0, 1)
            d = np.minimum(d, np.hypot(
                pts[:, 0] - (a[i, 0] + t * dx),
                pts[:, 1] - (a[i, 1] + t * dy)))
        return d

    for seed in range(40):
        rng = np.random.default_rng(seed)
        line = np.cumsum(rng.normal(0, 1, (int(rng.integers(5, 80)), 2)),
                         axis=0)
        tol = float(rng.uniform(0.01, 2.0))
        simp = geom.douglas_peucker(line, tol)
        assert np.allclose(simp[0], line[0])
        assert np.allclose(simp[-1], line[-1])
        assert dist_pts_to_chain(line, simp).max() <= tol * (1 + 1e-9), seed
