"""Property-based tests (hypothesis) for the pure kernels — the
invariants that must hold on ANY input at 100 TB, not just fixtures:
cell encode/decode inverses and containment, WKB round-trips,
Douglas-Peucker tolerance/endpoint guarantees, PIP regime agreement,
haversine metric axioms, dissolve area conservation, rolling-hash
locality."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from posmspark import cells, dissolve, geom

lon_s = st.floats(min_value=-180.0, max_value=179.999999,
                  allow_nan=False, allow_infinity=False)
lat_s = st.floats(min_value=-90.0, max_value=89.999999,
                  allow_nan=False, allow_infinity=False)
res_s = st.integers(min_value=1, max_value=16)


@settings(max_examples=200, deadline=None)
@given(lon=lon_s, lat=lat_s, res=res_s)
def test_cell_contains_its_point(lon, lat, res):
    """encode(p) must yield a cell whose bounds contain p, and
    cell_to_ij must invert ij_to_cell."""
    c = cells.encode(np.array([lon]), np.array([lat]), res)
    assert c[0] >= 0
    r, i, j = cells.cell_to_ij(c)
    assert int(r[0]) == res
    again = cells.ij_to_cell(i.astype(np.uint64), j.astype(np.uint64), res)
    assert int(again[0]) == int(c[0])
    # containment up to 1 ULP of the grid transform: a point within
    # ~1e-13 deg (~10 nm) of a grid line may round into the neighbor
    # cell (documented in cells.encode; both encoders round the same)
    slack = 1e-12
    x0, y0, x1, y1 = cells.cell_bounds(c)
    assert x0 - slack <= lon <= x1 + slack
    assert y0 - slack <= lat <= y1 + slack


@settings(max_examples=100, deadline=None)
@given(lon=lon_s, lat=lat_s, res=st.integers(min_value=2, max_value=16))
def test_parent_contains_child(lon, lat, res):
    c = cells.encode(np.array([lon]), np.array([lat]), res)
    p = cells.parent(c)
    px0, py0, px1, py1 = cells.cell_bounds(p)
    cx0, cy0, cx1, cy1 = cells.cell_bounds(c)
    assert px0 <= cx0 and py0 <= cy0 and px1 >= cx1 and py1 >= cy1


@st.composite
def ring_strategy(draw, min_pts=3, max_pts=12):
    """Simple star-shaped ring around a random center (always valid,
    non-self-intersecting)."""
    n = draw(st.integers(min_value=min_pts, max_value=max_pts))
    cx = draw(st.floats(min_value=-170, max_value=170, allow_nan=False))
    cy = draw(st.floats(min_value=-80, max_value=80, allow_nan=False))
    radii = [draw(st.floats(min_value=0.1, max_value=5.0,
                            allow_nan=False)) for _ in range(n)]
    ang = np.sort([draw(st.floats(min_value=0, max_value=2 * np.pi - 0.01,
                                  allow_nan=False)) for _ in range(n)])
    if len(np.unique(np.round(ang, 6))) < 3:
        ang = np.linspace(0, 2 * np.pi, n, endpoint=False)
    pts = np.column_stack([
        cx + np.array(radii) * np.cos(ang),
        cy + np.array(radii) * np.sin(ang),
    ])
    return np.vstack([pts, pts[:1]])


@settings(max_examples=100, deadline=None)
@given(ring=ring_strategy())
def test_wkb_roundtrip_exact(ring):
    polys = [[ring]]
    back = geom.wkb_to_multipolygon(geom.multipolygon_to_wkb(polys))
    assert len(back) == 1 and len(back[0]) == 1
    assert np.array_equal(back[0][0], ring)


@settings(max_examples=100, deadline=None)
@given(ring=ring_strategy(min_pts=4, max_pts=20),
       tol=st.floats(min_value=1e-6, max_value=1.0, allow_nan=False))
def test_douglas_peucker_guarantees(ring, tol):
    """DP keeps endpoints, never adds points, and every dropped vertex
    is within tol of the simplified polyline (the DP contract)."""
    simp = geom.douglas_peucker(ring, tol)
    assert np.array_equal(simp[0], ring[0])
    assert np.array_equal(simp[-1], ring[-1])
    assert len(simp) <= len(ring)
    kept = {tuple(p) for p in simp}
    for p in ring:
        if tuple(p) in kept:
            continue
        d = _dist_to_polyline(p, simp)
        assert d <= tol * (1 + 1e-9), (d, tol)


def _dist_to_polyline(p, line):
    best = np.inf
    for a, b in zip(line[:-1], line[1:]):
        ab = b - a
        denom = ab @ ab
        t = 0.0 if denom == 0 else np.clip((p - a) @ ab / denom, 0, 1)
        best = min(best, float(np.linalg.norm(p - (a + t * ab))))
    return best


@settings(max_examples=50, deadline=None)
@given(ring=ring_strategy(min_pts=4, max_pts=10),
       seed=st.integers(min_value=0, max_value=2**31))
def test_pip_regimes_agree(ring, seed):
    rng = np.random.default_rng(seed)
    x0, y0 = ring.min(axis=0) - 1
    x1, y1 = ring.max(axis=0) + 1
    px = rng.uniform(x0, x1, 40)
    py = rng.uniform(y0, y1, 40)
    a = geom._pir_edge_matrix(px, py, [ring])
    b = geom._pir_edge_loop(px, py, [ring])
    assert np.array_equal(a, b)


@settings(max_examples=100, deadline=None)
@given(lon1=lon_s, lat1=lat_s, lon2=lon_s, lat2=lat_s)
def test_haversine_metric_axioms(lon1, lat1, lon2, lat2):
    d12 = float(geom.haversine_m(lon1, lat1, lon2, lat2))
    d21 = float(geom.haversine_m(lon2, lat2, lon1, lat1))
    assert d12 >= 0
    assert abs(d12 - d21) <= 1e-7 * max(d12, 1.0)  # symmetry
    assert float(geom.haversine_m(lon1, lat1, lon1, lat1)) == 0.0
    # bounded by half the earth circumference
    assert d12 <= np.pi * 6_371_008.8 * (1 + 1e-9)


@settings(max_examples=50, deadline=None)
@given(nx=st.integers(min_value=1, max_value=4),
       ny=st.integers(min_value=1, max_value=4))
def test_dissolve_grid_area_conserved(nx, ny):
    """A grid of touching rects dissolves to one polygon with exactly
    the summed area (segment cancellation conserves area)."""
    mesh = {}
    for i in range(nx):
        for j in range(ny):
            mesh[f"c{i}_{j}"] = [[geom_rect(i, j, i + 1, j + 1)]]
    u = dissolve.dissolve_union(mesh)
    assert len(u) == 1
    total = sum(geom.ring_area(r) for rings in u for r in rings)
    assert abs(total - nx * ny) < 1e-9


def geom_rect(x0, y0, x1, y1):
    return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]],
                    dtype=np.float64)


@settings(max_examples=50, deadline=None)
@given(ring=ring_strategy(min_pts=4, max_pts=16))
def test_shp_roundtrip_property(ring):
    """Any simple CCW polygon survives .shp bytes ring-exact."""
    from posmspark import shp

    r = ring if geom.ring_area(ring) > 0 else ring[::-1].copy()
    back = shp.read_shp_polygons(shp.write_shp_polygons([[[r]]]))
    assert len(back) == 1
    (_, polys), = back
    assert len(polys) == 1 and len(polys[0]) == 1
    assert np.array_equal(polys[0][0], r)


@settings(max_examples=30, deadline=None)
@given(ring=ring_strategy(min_pts=5, max_pts=14),
       q=st.integers(min_value=10_000, max_value=1_000_000))
def test_topology_roundtrip_property(ring, q):
    """Decoded quantized topology stays within one quantization step of
    the source ring, vertex for vertex (isolated polygon: one arc)."""
    from posmspark import topo

    r = ring if geom.ring_area(ring) > 0 else ring[::-1].copy()
    t = topo.topology({"X": [[r]]}, quantization=q)
    back = topo.decode(t)["X"][0][0]
    kx, ky = t["transform"]["scale"]
    # each source vertex has a decoded vertex within one quantum
    for p in r[:-1]:
        d = np.abs(back[:-1] - p[None, :])
        assert (d[:, 0].min() <= kx * 0.51 + 1e-12
                and d[:, 1].min() <= ky * 0.51 + 1e-12)
