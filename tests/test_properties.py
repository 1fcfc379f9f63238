"""Property-based tests (SURVEY.md §5 item 4): invariants that must hold
for arbitrary (seeded) inputs — the pure numpy layer, and at the end the
kNN join's Column ring cells and results against their numpy twins."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import example, given, settings
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


# --- kNN: the Column ring and the join against brute force (Spark) ----------

def _edge_queries(level: int) -> list[tuple[float, float]]:
    """Every grid corner and edge midpoint, one cell in from each edge,
    an exact interior cell corner, and the clamped out-of-range edges."""
    n = 1 << level
    w, h = 360.0 / n, 180.0 / n
    lons = [-180.0, -180.0 + w, 0.0, 180.0 - w, 180.0, 200.0]
    lats = [90.0, 90.0 - h, 0.0, -90.0 + h, -90.0, -95.0]
    corner = (-180.0 + 1234 * w, 90.0 - 567 * h)
    return [(lon, lat) for lon in lons for lat in lats] + [corner]


@pytest.mark.parametrize("level", [12, 14])
def test_knn_ring_index_equals_k_ring_xy(level):
    """Each query's entries in the ring index are exactly
    ``cells.k_ring_xy``'s clipped Chebyshev square, decoded with
    ``cells.cell_to_xy``; the index is sorted by cell."""
    from tiff_to_geojson_csv_json_format_converter_spark.operators import joins

    qs = _edge_queries(level)
    qx, qy = np.array([q[0] for q in qs]), np.array([q[1] for q in qs])
    tx, ty = cells.tile_xy(qx, qy, level)
    n = 1 << level
    for max_ring in range(4):
        ring, owner = joins._ring_index(qx, qy, level, max_ring)
        assert (np.diff(ring) >= 0).all()
        for i in range(len(qs)):
            got = ring[owner == i]
            _, rx, ry = cells.cell_to_xy(cells.k_ring_xy(int(tx[i]), int(ty[i]), level, max_ring))
            assert len(got) == len(rx)
            assert set(zip((got // n).tolist(), (got % n).tolist())) == set(zip(rx.tolist(), ry.tolist())), \
                (qs[i], max_ring)


def _knn_points(rng) -> pd.DataFrame:
    """A dense cluster, a sparse field, multi-band pixels (the same point
    in bands 0-2) and distinct pixels sharing one coordinate."""
    dense = rng.uniform([77.0, 28.0], [77.05, 28.05], size=(300, 2))
    sparse = rng.uniform([77.0, 28.0], [78.0, 29.0], size=(40, 2))
    xy = np.vstack([dense, sparse, dense[:10]])  # the last 10 repeat a coordinate
    pdf = pd.DataFrame({"image_id": rng.integers(0, 3, len(xy)), "pixel_idx": np.arange(len(xy)),
                        "band": 0, "longitude": xy[:, 0], "latitude": xy[:, 1]})
    multi = pdf.sample(30, random_state=int(rng.integers(1 << 31)))
    return pd.concat([pdf] + [multi.assign(band=b) for b in (2, 1)], ignore_index=True)


def _knn_queries(rng, level: int) -> list[tuple[float, float]]:
    n = 1 << level
    w, h = 360.0 / n, 180.0 / n
    tx, ty = int((77.02 + 180.0) / w), int((90.0 - 28.02) / h)
    return ([tuple(q) for q in rng.uniform([77.0, 28.0], [77.05, 28.05], size=(6, 2))]  # dense
            + [tuple(q) for q in rng.uniform([77.1, 28.1], [78.0, 29.0], size=(4, 2))]  # sparse
            + [(80.0, 30.0), (-120.0, 40.0)]  # outside the data's extent
            + [(-180.0 + tx * w, 90.0 - ty * h), (-180.0 + tx * w, 28.03),
               (77.03, 90.0 - ty * h)])  # exactly on cell edges


def _knn_odd_points(level: int) -> list[tuple]:
    """(lon, lat) points whose tile comes from Spark's clamp: NaN, +-inf
    and off-grid coordinates, each next to a finite point on the same
    tile; and null coordinates, which never join."""
    nan, inf = float("nan"), float("inf")
    w = 360.0 / (1 << level)
    return [(-180.0, 90.0), (nan, nan), (-inf, inf), (-200.0, 95.0),
            (180.0 - w / 2, 28.01), (inf, 28.01), (200.0, 28.01), (nan, 28.01),
            (77.01, -90.0), (77.01, -inf), (77.01, nan),
            (None, 28.01), (77.01, None), (None, None)]


@settings(max_examples=5, deadline=None)
@given(seed=st.integers(min_value=0, max_value=2**32 - 1))
def test_knn_join_agrees_with_brute_force(spark, seed):
    """Against two brute forces, with Arrow batches of 7 rows so that the
    3-band pixels, the pixels sharing a coordinate and the queries
    placed on them tie across batches and within one:

    - every query row's clipped square of tiles (``cells.k_ring_xy``)
      scanned point by point: the rows per query_id are exactly its k
      best candidates (distance bits, then image_id, pixel_idx, band;
      NaN last), pooled over the rows of a duplicated query_id; a null
      coordinate never joins; NaN, +-inf and off-grid points sit on
      their clamped tile;
    - every point: exact rows are the true neighbours, inexact rows
      never beat the true distance, and a query is short of k rows only
      when its missing neighbours lie beyond the searched radius."""
    from tiff_to_geojson_csv_json_format_converter_spark.operators import joins

    level, max_ring, k = 14, 2, 3
    rng = np.random.default_rng(seed)
    pdf = _knn_points(rng)
    odd = _knn_odd_points(level)
    rows = [(int(r.image_id), int(r.pixel_idx), int(r.band), float(r.longitude), float(r.latitude))
            for r in pdf.itertuples()]
    rows += [(9, 10_000 + i, 0, lon, lat) for i, (lon, lat) in enumerate(odd)]
    # 12 pixels on one coordinate, ids descending: whatever the batch
    # split, one batch holds more than k of them, in reverse tie order
    rows += [(9, 20_011 - i, 0, 77.041, 28.041) for i in range(12)]
    multi = pdf[pdf["band"] == 2][["longitude", "latitude"]].to_numpy()[:3]
    qs = [(str(i), float(lon), float(lat)) for i, (lon, lat) in enumerate(
        _knn_queries(rng, level) + _edge_queries(level) + [tuple(p) for p in multi]
        + [tuple(p) for p in pdf[["longitude", "latitude"]].to_numpy()[:2]]
        + [p for p in odd if p[0] is not None and p[1] is not None] + [(77.041, 28.041)])]
    qs += [("dup", 77.01, 28.01), ("dup", 77.03, 28.04), ("twin", 77.02, 28.02),
           ("twin", 77.02, 28.02), ("null", None, 28.01), ("null", 77.01, None)]
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        got = joins.knn_join(
            spark.createDataFrame(rows, "image_id long, pixel_idx long, band int, "
                                        "longitude double, latitude double"),
            spark.createDataFrame(qs, "query_id string, lon double, lat double"),
            k=k, level=level, max_ring=max_ring).collect()
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    guard = (max_ring * 180.0 / (1 << level)) ** 2
    by_id = {}
    for r in got:
        by_id.setdefault(r["query_id"], []).append(r)

    # the scan of each query row's square
    ok = [r for r in rows if r[3] is not None and r[4] is not None]
    px = np.array([r[3] for r in ok], dtype=np.float64)
    py = np.array([r[4] for r in ok], dtype=np.float64)
    ptx, pty = cells.tile_xy(px, py, level)
    cand = {}
    for qid, lon, lat in qs:
        if lon is None or lat is None:
            continue
        qtx, qty = cells.tile_xy(np.array([lon]), np.array([lat]), level)
        _, rx, ry = cells.cell_to_xy(cells.k_ring_xy(int(qtx[0]), int(qty[0]), level, max_ring))
        square = set(zip(rx.tolist(), ry.tolist()))
        for j, r in enumerate(ok):
            if (int(ptx[j]), int(pty[j])) in square:
                with np.errstate(invalid="ignore"):  # inf - inf is NaN, as in Spark
                    d2 = (px[j] - lon) * (px[j] - lon) + (py[j] - lat) * (py[j] - lat)
                cand.setdefault(qid, []).append((bool(np.isnan(d2)), 0.0 if np.isnan(d2) else d2, *r[:3]))
    assert set(by_id) == {q for q, c in cand.items() if c}
    for qid, c in cand.items():
        want = sorted(c)[:k]
        have = sorted(by_id[qid], key=lambda r: r["knn_rank"])
        assert [r["knn_rank"] for r in have] == list(range(1, len(want) + 1)), qid
        for r, (is_nan, d2, img, pix, band) in zip(have, want):
            assert (r["image_id"], r["pixel_idx"], r["band"]) == (img, pix, band), qid
            assert np.isnan(r["dist2"]) if is_nan else r["dist2"] == d2, qid
            assert r["exact"] == (not is_nan and d2 <= guard), qid

    # every point, for the queries of a unique id on the grid
    for qid, lon, lat in qs:
        if qid in ("dup", "twin", "null") or not (-180 <= lon <= 180 and -90 <= lat <= 90):
            continue
        have = sorted(by_id.get(qid, []), key=lambda r: r["knn_rank"])
        with np.errstate(invalid="ignore"):
            d2 = (px - lon) * (px - lon) + (py - lat) * (py - lat)
        order = np.lexsort(([r[2] for r in ok], [r[1] for r in ok], [r[0] for r in ok], d2))[:k]
        assert len(have) >= min(k, int((d2 <= guard).sum()))
        for r, j in zip(have, order):
            if r["exact"]:
                assert r["dist2"] == d2[j]
                assert (r["image_id"], r["pixel_idx"], r["band"]) == ok[j][:3]
            else:
                assert not r["dist2"] < d2[j]


# --- the cell-cover join against brute force (Spark) ------------------------

def _cover_layer(rng, n_polys: int, level: int) -> list[tuple[str, list]]:
    """Overlapping boxes and triangles over one region, some with a hole,
    some with the shell left unclosed; boxes whose edges (and hole's
    edges) lie on ``level`` cell edges; and boxes one cell wide."""
    n = 1 << level
    polys = []
    for i in range(n_polys):
        cx, cy = float(rng.uniform(77.0, 79.0)), float(rng.uniform(28.0, 30.0))
        w, h = rng.uniform(0.05, 3.0, size=2).tolist()
        if i % 4 == 2:  # cell-aligned, the hole one cell in
            tx, ty = cells.tile_xy(np.array([cx]), np.array([cy]), level)
            wx, wy = rng.integers(1, 7, size=2)
            # tiles tx..tx+wx-1 west to east, ty..ty+wy-1 north to south
            x0, _, _, y1 = cells.cell_bounds(cells.xy_to_cell(tx, ty, level))
            _, y0, x1, _ = cells.cell_bounds(cells.xy_to_cell(tx + wx - 1, ty + wy - 1, level))
            x0, y0, x1, y1 = (float(v[0]) for v in (x0, y0, x1, y1))
            rings = [[[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]]
            if wx > 2 and wy > 2:
                hx0, hy0 = x0 + 360.0 / n, y0 + 180.0 / n
                hx1, hy1 = x1 - 360.0 / n, y1 - 180.0 / n
                rings.append([[hx0, hy0], [hx1, hy0], [hx1, hy1], [hx0, hy1], [hx0, hy0]])
            polys.append((f"p{i}", rings))
            continue
        if i % 4 == 3:  # inside one cell column
            tx, _ = cells.tile_xy(np.array([cx]), np.array([cy]), level)
            lo, _, hi, _ = cells.cell_bounds(cells.xy_to_cell(tx, np.array([0]), level))
            cx, w = float((lo[0] + hi[0]) / 2), float((hi[0] - lo[0]) * rng.uniform(0.1, 0.5))
        if i % 2:
            shell = [[cx - w, cy - h], [cx + w, cy - h], [cx, cy + h]]
        else:
            shell = [[cx - w, cy - h], [cx + w, cy - h], [cx + w, cy + h], [cx - w, cy + h]]
        if rng.random() < 0.5:
            shell.append(shell[0])
        rings = [shell]
        if rng.random() < 0.5:  # inside either shape
            hx, hy, hw, hh = cx, cy - h / 3, w / 8, h / 8
            rings.append([[hx - hw, hy - hh], [hx + hw, hy - hh], [hx + hw, hy + hh],
                          [hx - hw, hy + hh], [hx - hw, hy - hh]])
        polys.append((f"p{i}", rings))
    return polys


def _clip_extras(rng) -> list[tuple[str, list]]:
    """A multi-shell ring list (a holed box and a box apart from it) and
    a star ring of 72 edges, over the same region as ``_cover_layer``."""
    cx, cy = float(rng.uniform(77.0, 79.0)), float(rng.uniform(28.0, 30.0))
    box = lambda x0, y0, x1, y1: [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]
    shells = [box(cx - 0.5, cy - 0.5, cx, cy), box(cx - 0.4, cy - 0.4, cx - 0.1, cy - 0.1),
              box(cx + 0.3, cy + 0.3, cx + 0.9, cy + 0.6)]
    t = np.linspace(0.0, 2 * np.pi, 72, endpoint=False) + rng.uniform(0, 1)
    r = np.where(np.arange(72) % 2 == 0, 1.2, 0.5)
    star = np.column_stack([cx + r * np.cos(t), cy + r * np.sin(t)]).tolist()
    return [("multi", shells), ("star", [star])]


def _rings_box(rings: list) -> tuple:
    """The bbox over every ring, as ``joins._rings_bbox``."""
    return (min(p[0] for r in rings for p in r), min(p[1] for r in rings for p in r),
            max(p[0] for r in rings for p in r), max(p[1] for r in rings for p in r))


@settings(max_examples=40, deadline=None)
@given(seed=st.integers(min_value=0, max_value=2**32 - 1), level=st.sampled_from([8, 10, 12]),
       n_polys=st.integers(min_value=0, max_value=12))
def test_cover_index_equals_per_polygon_loop(seed, level, n_polys):
    """The cover index built for the whole layer at once, classifying
    only the cells inside each polygon's vertex extent, equals the
    per-polygon loop (``cells.cover_bbox`` and
    ``geometry.classify_cells_interior`` over every cover cell), entry
    for entry: cells, owners and interior flags. The layer adds, to the
    generated shapes, bboxes wider than their rings and shells off the
    grid, whose clamped edge cells can be interior."""
    import json

    from tiff_to_geojson_csv_json_format_converter_spark.operators import joins

    rng = np.random.default_rng(seed)
    polys = _cover_layer(rng, n_polys, level)
    taken = [(pid, json.dumps({"type": "Polygon", "coordinates": rings}), *_rings_box(rings))
             for pid, rings in polys]
    big = [[[-190.0, 80.0], [-170.0, 80.0], [-170.0, 100.0], [-190.0, 100.0]],
           [[-175.0, 85.0], [-174.0, 85.0], [-174.0, 86.0], [-175.0, 86.0]]]
    taken += [("wide", taken[0][1], *(np.array(taken[0][2:]) + [-1.0, -1.0, 1.0, 1.0]))] if taken else []
    taken += [("off", json.dumps({"type": "Polygon", "coordinates": big}), -190.0, 80.0, -170.0, 100.0)]

    cover, owner, interior = [np.zeros(0, np.int64)], [np.zeros(0, np.int32)], [np.zeros(0, bool)]
    for i, (_, geojson, *box) in enumerate(taken):
        rr = [np.asarray(r, dtype=np.float64) for r in json.loads(geojson)["coordinates"]]
        cc = cells.cover_bbox(*box, level)
        cover.append(cc)
        owner.append(np.full(len(cc), i, dtype=np.int32))
        interior.append(geometry.classify_cells_interior(np.column_stack(cells.cell_bounds(cc)), rr))
    cover = np.concatenate(cover)
    order = np.argsort(cover, kind="stable")
    rings = [[geometry.close_ring(r) for r in json.loads(g)["coordinates"]] for _, g, *_ in taken]
    got = joins._cover_index(rings, np.array([t[2:] for t in taken], dtype=np.float64), level)
    np.testing.assert_array_equal(got[0], cover[order])
    np.testing.assert_array_equal(got[1], np.concatenate(owner)[order])
    np.testing.assert_array_equal(got[2], np.concatenate(interior)[order])
    assert got[2][got[1] == len(taken) - 1].any()  # the clamped corner cell


def _cover_points(rng, n: int, level: int, polys: list) -> np.ndarray:
    """Uniform points, points on cell edges and corners, and every
    polygon vertex."""
    if n == 0:
        return np.zeros((0, 2))
    w, h = 360.0 / (1 << level), 180.0 / (1 << level)
    uni = rng.uniform([76.0, 27.0], [80.0, 31.0], size=(n, 2))
    kx = np.floor((uni[: n // 4, 0] + 180.0) / w)
    ky = np.floor((90.0 - uni[: n // 4, 1]) / h)
    edges = np.vstack([np.column_stack([-180.0 + kx * w, uni[: n // 4, 1]]),
                       np.column_stack([uni[: n // 4, 0], 90.0 - ky * h]),
                       np.column_stack([-180.0 + kx * w, 90.0 - ky * h])])
    verts = [np.asarray(r, dtype=np.float64) for _, rings in polys for r in rings]
    return np.vstack([uni, edges, *verts])


@settings(max_examples=8, deadline=None)
@given(seed=st.integers(min_value=0, max_value=2**32 - 1), level=st.sampled_from([8, 12]),
       n_polys=st.integers(min_value=0, max_value=4), n_points=st.integers(min_value=0, max_value=300))
@example(seed=1, level=8, n_polys=0, n_points=100)
@example(seed=2, level=12, n_polys=3, n_points=0)
def test_cell_cover_join_agrees_with_brute_force(spark, seed, level, n_polys, n_points):
    """The join is brute-force ``geometry.points_in_polygon`` over every
    (point, polygon) pair; the candidates are a superset of it and follow
    the cover rule: the point's cell is in the cover of the polygon's
    bbox, and the cell is interior or the point is inside the bbox.

    The clip operators, the same kernel at their own level, agree with the
    same brute force: ``clip_points_multi`` gives every pair,
    ``clip_points_union`` every point inside any polygon once, and
    ``clip_points`` a multi-shell polygon's points. The layer adds a
    multi-shell ring list and a 72-edge ring to the overlapping, holed
    shapes, and the points add null and NaN coordinates, which never
    match."""
    import json

    from tiff_to_geojson_csv_json_format_converter_spark.operators import joins

    rng = np.random.default_rng(seed)
    polys = _cover_layer(rng, n_polys, level)
    polys += _clip_extras(rng) if polys else []
    xy = _cover_points(rng, n_points, level, polys)
    nan = float("nan")
    odd = [(None, None), (None, 28.5), (77.5, None), (nan, nan), (nan, 28.5), (77.5, nan)]
    rows = [(float(x), float(y)) for x, y in xy] + (odd if n_points else [])
    xy = np.array([[nan if v is None else v for v in r] for r in rows]).reshape(-1, 2)
    boxes = [_rings_box(rings) for _, rings in polys]
    layer = spark.createDataFrame(
        [(pid, json.dumps({"type": "Polygon", "coordinates": rings}), *box)
         for (pid, rings), box in zip(polys, boxes)],
        "polygon_id string, geojson string, min_lon double, min_lat double, "
        "max_lon double, max_lat double")
    pts = spark.createDataFrame([(i, x, y) for i, (x, y) in enumerate(rows)],
                                "point_id long, longitude double, latitude double")

    x, y = xy[:, 0], xy[:, 1]
    cid = cells.cell_id(x, y, level)
    want, rule = set(), set()
    for (pid, rings), (bx0, by0, bx1, by1) in zip(polys, boxes):
        inside = geometry.points_in_polygon(x, y, [np.asarray(r, dtype=np.float64) for r in rings])
        want |= {(i, pid) for i in np.flatnonzero(inside).tolist()}
        cover = cells.cover_bbox(bx0, by0, bx1, by1, level)
        flags = dict(zip(cover.tolist(), geometry.classify_cells_interior(
            np.column_stack(cells.cell_bounds(cover)), rings).tolist()))
        in_box = (x >= bx0) & (x <= bx1) & (y >= by0) & (y <= by1)
        rule |= {(i, pid, int(cid[i]), flags[int(cid[i])]) for i in range(len(xy))
                 if int(cid[i]) in flags and (flags[int(cid[i])] or in_box[i])}

    got = joins.cell_cover_join(pts, layer, level=level).collect()
    assert len(got) == len(want) and {(r["point_id"], r["polygon_id"]) for r in got} == want
    cand = joins.cell_cover_candidates(pts, layer, level=level)[0].collect()
    assert len(cand) == len(rule)
    assert {(r["point_id"], r["polygon_id"], r["cell"], r["interior"]) for r in cand} == rule
    assert want <= {(i, pid) for i, pid, _, _ in rule}

    if not polys:
        return
    multi = joins.clip_points_multi(pts, dict(polys), tag_col="pid").collect()
    assert sorted((r["point_id"], r["pid"]) for r in multi) == sorted(want)
    union = [r["point_id"] for r in joins.clip_points_union(pts, [rr for _, rr in polys]).collect()]
    assert sorted(union) == sorted({i for i, _ in want})
    one = [r["point_id"] for r in joins.clip_points(pts, dict(polys)["multi"]).collect()]
    assert sorted(one) == sorted(i for i, pid in want if pid == "multi")


def test_similarity_operators_on_an_empty_corpus(spark):
    """An empty corpus gives empty results of each operator's schema —
    no driver-side stacking of zero vectors at call time."""
    from tiff_to_geojson_csv_json_format_converter_spark.operators import similarity

    emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    topk = [("query_id", "bigint"), ("neighbor_id", "bigint"), ("dot_q", "bigint"),
            ("cos_e6", "bigint"), ("rank", "int")]
    for df in (similarity.brute_topk(emb, k=3),
               similarity.brute_topk_blocked(emb, k=3, n_blocks=2)):
        assert df.dtypes == topk and df.collect() == []
    pairs = similarity.cosine_pairs(emb, threshold_e6=400_000, mode="broadcast")
    assert pairs.columns == ["id_a", "id_b", "dot_q", "cos_e6"] and pairs.collect() == []
