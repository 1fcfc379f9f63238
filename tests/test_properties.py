"""Property-based tests (SURVEY.md §5 item 4): invariants that must hold
for arbitrary (seeded) inputs — pure numpy layer, no Spark session."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from tiff_to_geojson_csv_json_format_converter_spark.functions import (
    affine, cells, geometry, projection,
)

finite_lon = st.floats(min_value=-179.9, max_value=179.9, allow_nan=False)
finite_lat = st.floats(min_value=-89.9, max_value=89.9, allow_nan=False)


@settings(max_examples=50, deadline=None)
@given(lon=finite_lon, lat=finite_lat, level=st.integers(min_value=0, max_value=28))
def test_cell_roundtrip_and_parent_prefix(lon, lat, level):
    cid = cells.cell_id(np.array([lon]), np.array([lat]), level)
    lvl, tx, ty = cells.cell_to_xy(cid)
    assert int(lvl[0]) == level
    mn_lon, mn_lat, mx_lon, mx_lat = cells.cell_bounds(int(cid[0]))
    assert mn_lon - 1e-9 <= lon <= mx_lon + 1e-9
    assert mn_lat - 1e-9 <= lat <= mx_lat + 1e-9
    if level > 0:
        assert int(cells.parent(cid)[0]) == int(cells.cell_id(np.array([lon]), np.array([lat]), level - 1)[0])


@settings(max_examples=50, deadline=None)
@given(lon=finite_lon, lat=finite_lat,
       coarse=st.integers(min_value=0, max_value=16),
       delta=st.integers(min_value=0, max_value=12))
def test_zorder_prefix_shift_derivation(lon, lat, coarse, delta):
    """The Z-order prefix property behind ``cells.parent``: the morton
    code at a coarser level IS the finer level's morton shifted right
    by twice the level difference — for ANY coordinate, because IEEE
    power-of-two scaling is exact so the tile floors commute with the
    shift."""
    fine = coarse + delta
    m_fine = int(cells.cell_id(np.array([lon]), np.array([lat]), fine)[0]) & ((1 << 58) - 1)
    m_coarse = int(cells.cell_id(np.array([lon]), np.array([lat]), coarse)[0]) & ((1 << 58) - 1)
    assert m_coarse == m_fine >> (2 * delta)


@settings(max_examples=30, deadline=None)
@given(
    lon=st.floats(min_value=60.1, max_value=89.9, allow_nan=False),
    lat=st.floats(min_value=0.1, max_value=80.0, allow_nan=False),
)
def test_utm_roundtrip_survives_rounding(lon, lat):
    """Inverse(forward(p)) must be within 1e-9 deg — far below the 6-dp
    output rounding (zone 43 covers 72-78E; probe wider for robustness)."""
    x, y = projection.utm_forward(np.array([lon]), np.array([lat]), 32643)
    lon2, lat2 = projection.utm_inverse(x, y, 32643)
    assert abs(lon2[0] - lon) < 1e-8
    assert abs(lat2[0] - lat) < 1e-8


@settings(max_examples=30, deadline=None)
@given(
    a=st.floats(min_value=1e-4, max_value=10.0),
    c=st.floats(min_value=-100.0, max_value=100.0),
    e=st.floats(min_value=-10.0, max_value=-1e-4),
    f=st.floats(min_value=-100.0, max_value=100.0),
    row=st.integers(min_value=0, max_value=1000),
    col=st.integers(min_value=0, max_value=1000),
)
def test_affine_roundtrip(a, c, e, f, row, col):
    tr = (a, 0.0, c, 0.0, e, f)
    x, y = affine.pixel_to_world(tr, np.array([row]), np.array([col]))
    r2, c2 = affine.world_to_pixel(tr, x, y)
    assert abs(r2[0] - row) < 1e-6
    assert abs(c2[0] - col) < 1e-6


@settings(max_examples=30, deadline=None)
@given(data=st.data())
def test_pip_convex_polygon_matches_halfplane(data):
    """For random convex polygons, ray-casting must agree with the
    half-plane sign test (away from the boundary)."""
    n = data.draw(st.integers(min_value=3, max_value=8))
    angles = np.sort(data.draw(st.lists(
        st.floats(min_value=0.0, max_value=2 * np.pi - 0.01),
        min_size=n, max_size=n, unique=True)))
    # drop near-duplicate angles: a (numerically) zero-length edge makes
    # both the ray-cast and the half-plane oracle ill-defined
    keep = np.concatenate([[True], np.diff(angles) > 1e-3])
    angles = angles[keep]
    if len(angles) < 3:
        return
    cx, cy = 10.0, 20.0
    r = 1.0
    ring = [[cx + r * np.cos(t), cy + r * np.sin(t)] for t in angles]
    ring.append(ring[0])
    pts = data.draw(st.lists(
        st.tuples(st.floats(min_value=cx - 2, max_value=cx + 2),
                  st.floats(min_value=cy - 2, max_value=cy + 2)),
        min_size=20, max_size=20))
    x = np.array([p[0] for p in pts])
    y = np.array([p[1] for p in pts])
    got = geometry.points_in_ring(x, y, ring)
    # half-plane oracle (counter-clockwise ring): inside iff left of every edge
    arr = np.asarray(ring)
    inside = np.ones(len(x), dtype=bool)
    dist = np.full(len(x), np.inf)
    for (x1, y1), (x2, y2) in zip(arr[:-1], arr[1:]):
        cross = (x2 - x1) * (y - y1) - (y2 - y1) * (x - x1)
        inside &= cross > 0
        seg_len = np.hypot(x2 - x1, y2 - y1)
        if seg_len > 0:
            dist = np.minimum(dist, np.abs(cross) / seg_len)
    clear = dist > 1e-9  # ignore points numerically on the boundary
    assert np.array_equal(got[clear], inside[clear])


@settings(max_examples=30, deadline=None)
@given(total=st.integers(min_value=1, max_value=100_000), cap=st.integers(min_value=1, max_value=1000))
def test_stride_sampling_count(total, cap):
    """Sampling reduces counts exactly as the reference formula does
    (doesSamples.py:73-89): rate = total//cap when over, indices
    0, r, 2r, ...; count == ceil(total/rate)."""
    rate = total // cap if total > cap else 1
    idx = np.arange(0, total, rate)
    assert len(idx) == -(-total // rate)
    assert idx[0] == 0 and (np.diff(idx) == rate).all()


@settings(max_examples=300, deadline=None)
@given(
    pat=st.text(alphabet="ab.*?_%\\", max_size=8),
    s=st.text(alphabet="ab.*?_%\\", max_size=12),
)
def test_glob_to_like_matches_fnmatch(pat, s):
    """glob_to_like must give SQL LIKE semantics identical to fnmatch for
    the * and ? metacharacters (escaping %, _ and \\ literals)."""
    import fnmatch
    import re

    from tiff_to_geojson_csv_json_format_converter_spark.sources import multiroot

    like = multiroot.glob_to_like(pat)
    # reference LIKE evaluator: % -> .*, _ -> ., backslash escapes
    rx = []
    i = 0
    while i < len(like):
        ch = like[i]
        if ch == "\\" and i + 1 < len(like):
            rx.append(re.escape(like[i + 1])); i += 2; continue
        if ch == "%":
            rx.append(".*")
        elif ch == "_":
            rx.append(".")
        else:
            rx.append(re.escape(ch))
        i += 1
    like_match = re.fullmatch("".join(rx), s, flags=re.DOTALL) is not None
    want = fnmatch.fnmatchcase(s, pat)
    assert like_match == want


@settings(max_examples=40, deadline=None)
@given(data=st.data())
def test_overview_chain_invariants(data):
    """For ANY grid+mask: a parent is valid iff it has a valid child;
    a valid parent's value sits within [min, max] of its valid
    children (integer mean cannot escape the hull); valid-count is
    non-increasing down the chain."""
    from tiff_to_geojson_csv_json_format_converter_spark.operators import extract

    h = data.draw(st.integers(min_value=2, max_value=9))
    w = data.draw(st.integers(min_value=2, max_value=9))
    cents = np.array(data.draw(st.lists(
        st.integers(min_value=-10**6, max_value=10**6),
        min_size=h * w, max_size=h * w))).reshape(h, w)
    valid = np.array(data.draw(st.lists(
        st.booleans(), min_size=h * w, max_size=h * w))).reshape(h, w)
    chain = extract.overview_chain(cents, valid, levels=4)
    g, v = cents, valid
    for p, nv in chain:
        h2, w2 = p.shape
        g4 = g[: h2 * 2, : w2 * 2].reshape(h2, 2, w2, 2)
        v4 = v[: h2 * 2, : w2 * 2].reshape(h2, 2, w2, 2)
        np.testing.assert_array_equal(nv, v4.any(axis=(1, 3)))
        for i in range(h2):
            for j in range(w2):
                if nv[i, j]:
                    kids = g4[i, :, j, :][v4[i, :, j, :]]
                    assert kids.min() <= p[i, j] <= kids.max()
        assert nv.sum() <= v.sum()
        g, v = p, nv


@settings(max_examples=40, deadline=None)
@given(data=st.data())
def test_horn_slope_aspect_ranges_and_shift_invariance(data):
    """Slope is always in [0, 90], aspect in [0, 360), and both are
    invariant under adding a constant to the elevation field."""
    from tiff_to_geojson_csv_json_format_converter_spark.operators import terrain

    h = data.draw(st.integers(min_value=3, max_value=8))
    w = data.draw(st.integers(min_value=3, max_value=8))
    z = np.array(data.draw(st.lists(
        st.floats(min_value=-1e4, max_value=1e4, allow_nan=False,
                  width=32),
        min_size=h * w, max_size=h * w)), dtype=np.float32).reshape(h, w)
    valid = np.ones((h, w), dtype=bool)
    s1, a1, ok = terrain.horn_slope_aspect(z, valid, 1.0, 1.0)
    assert ok.all()
    assert (s1 >= 0).all() and (s1 <= 90).all()
    assert (a1 >= 0).all() and (a1 < 360).all()
    s2, a2, _ = terrain.horn_slope_aspect(z + np.float32(500.0), valid, 1.0, 1.0)
    np.testing.assert_allclose(s1, s2, atol=1e-3)
