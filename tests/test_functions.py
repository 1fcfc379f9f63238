"""Unit tests for the pure-numpy function layer (SURVEY.md §5 item 2)."""

import numpy as np
import pytest

from tiff_to_geojson_csv_json_format_converter_spark.functions import (
    affine, cells, geometry, projection,
)
from tiff_to_geojson_csv_json_format_converter_spark.sources import codecs, synth


class TestCodecs:
    @pytest.mark.parametrize("fmt", ["raw_f32", "npy", "tiff"])
    def test_roundtrip_f32(self, fmt):
        rng = np.random.default_rng(1)
        arr = rng.normal(1000, 300, (33, 47)).astype(np.float32)
        assert np.array_equal(codecs.decode(codecs.encode(arr, fmt), fmt, 47, 33), arr)

    @pytest.mark.parametrize("fmt", ["raw_u8", "tiff"])
    def test_roundtrip_u8(self, fmt):
        rng = np.random.default_rng(2)
        arr = rng.integers(0, 256, (20, 30)).astype(np.uint8)
        assert np.array_equal(codecs.decode(codecs.encode(arr, fmt), fmt, 30, 20), arr)

    def test_psnr_gate(self):
        rng = np.random.default_rng(3)
        a = rng.normal(1000, 300, (64, 64)).astype(np.float32)
        assert codecs.psnr(a, a) == float("inf")
        noisy = a + rng.normal(0, 0.5, a.shape).astype(np.float32)
        assert codecs.psnr(a, noisy) >= 40.0  # input_hint lossy gate


class TestAffine:
    def test_pixel_center_convention(self):
        tr = (0.002, 0.0, 77.0, 0.0, -0.002, 28.5)
        x, y = affine.pixel_to_world(tr, np.array([0]), np.array([0]))
        assert x[0] == pytest.approx(77.0 + 0.001)
        assert y[0] == pytest.approx(28.5 - 0.001)

    def test_roundtrip(self):
        tr = (0.002, 0.0003, 77.0, -0.0001, -0.002, 28.5)
        rows = np.arange(50, dtype=np.float64)
        cols = np.arange(50, dtype=np.float64)[::-1].copy()
        x, y = affine.pixel_to_world(tr, rows, cols)
        r2, c2 = affine.world_to_pixel(tr, x, y)
        np.testing.assert_allclose(r2, rows, atol=1e-9)
        np.testing.assert_allclose(c2, cols, atol=1e-9)


class TestProjection:
    def test_roundtrip(self):
        rng = np.random.default_rng(4)
        lon = rng.uniform(72.0, 78.0, 500)
        lat = rng.uniform(0.5, 60.0, 500)
        x, y = projection.utm_forward(lon, lat, 32643)
        lon2, lat2 = projection.utm_inverse(x, y, 32643)
        assert np.abs(lon2 - lon).max() < 1e-9  # survives 6-dp rounding
        assert np.abs(lat2 - lat).max() < 1e-9

    def test_central_meridian_easting(self):
        x, _ = projection.utm_forward(np.array([75.0]), np.array([28.25]), 32643)
        assert x[0] == pytest.approx(500000.0, abs=1e-6)

    def test_meridian_arc_independent(self):
        """Northing at the central meridian must equal k0 * meridian arc
        length computed by independent numerical integration."""
        a, f = 6378137.0, 1 / 298.257223563
        e2 = f * (2 - f)
        t = np.linspace(0, np.radians(28.25), 400_001)
        arc = np.trapz(a * (1 - e2) / np.power(1 - e2 * np.sin(t) ** 2, 1.5), t)
        _, y = projection.utm_forward(np.array([75.0]), np.array([28.25]), 32643)
        assert y[0] == pytest.approx(0.9996 * arc, abs=1e-4)

    def test_identity_4326(self):
        lon, lat = projection.to_wgs84(np.array([77.25]), np.array([28.1]), "EPSG:4326")
        assert lon[0] == 77.25 and lat[0] == 28.1

    def test_clenshaw_matches_direct_sum_on_synthetic_pixel_centres(self):
        """Every UTM pixel centre of three seeded 96-image synthetic sets,
        downcast to float32 as the extract kernel does."""
        pts = {32643: ([], []), 32644: ([], [])}
        for seed in (1, 2, 3):
            base = 240 * int(np.random.default_rng(seed).integers(1, 10_000))
            for i in range(base, base + 96):
                p = synth.image_params(i, 96, [64, 256])
                if p["crs"] == "EPSG:4326":
                    continue
                n = p["size"]
                idx = np.arange(n * n)
                x, y = affine.pixel_to_world(p["transform"], idx // n, idx % n)
                xs, ys = pts[int(p["crs"].split(":")[1])]
                xs.append(x.astype(np.float32).astype(np.float64))
                ys.append(y.astype(np.float32).astype(np.float64))
        assert all(xs for xs, _ in pts.values())  # both zones are exercised
        for epsg, (xs, ys) in pts.items():
            _assert_matches_direct_sum(np.concatenate(xs), np.concatenate(ys), epsg)

    def test_clenshaw_matches_direct_sum_on_random_points(self):
        """2 M points per zone over lon0 +- 3.5 deg, lat 0.5-84 deg."""
        rng = np.random.default_rng(11)
        for epsg in (32643, 32644):
            lon0 = projection.utm_zone_lon0(epsg)
            x, y = projection.utm_forward(
                lon0 + rng.uniform(-3.5, 3.5, 2_000_000), rng.uniform(0.5, 84.0, 2_000_000), epsg)
            _assert_matches_direct_sum(x, y, epsg)

    def test_inverse_keeps_scalar_inputs(self):
        lon, lat = projection.utm_inverse(500000.0, 3_000_000.0, 32643)
        assert lon == 75.0 and np.ndim(lat) == 0
        assert np.round(lat, 6) == np.round(_utm_inverse_direct(500000.0, 3_000_000.0, 32643)[1], 6)


def _utm_inverse_direct(x, y, epsg):
    """The reference for ``projection.utm_inverse``: the same 6th-order
    Krüger series summed term by term, with sin/cos/sinh/cosh of every
    multiple angle evaluated directly."""
    j = np.arange(1, 7, dtype=np.float64)
    k = projection._K0 * projection._ABAR
    xi = np.asarray(y, dtype=np.float64) / k
    eta = (np.asarray(x, dtype=np.float64) - projection._E0) / k
    two_jxi = 2.0 * np.multiply.outer(j, xi)
    two_jeta = 2.0 * np.multiply.outer(j, eta)
    beta = projection._BETA.reshape((6,) + (1,) * xi.ndim)
    xi_p = xi - np.sum(beta * np.sin(two_jxi) * np.cosh(two_jeta), axis=0)
    eta_p = eta - np.sum(beta * np.cos(two_jxi) * np.sinh(two_jeta), axis=0)
    chi = np.arcsin(np.sin(xi_p) / np.cosh(eta_p))
    delta = projection._DELTA.reshape((6,) + (1,) * chi.ndim)
    phi = chi + np.sum(delta * np.sin(2.0 * np.multiply.outer(j, chi)), axis=0)
    lam = np.arctan2(np.sinh(eta_p), np.cos(xi_p))
    return projection.utm_zone_lon0(epsg) + np.degrees(lam), np.degrees(phi)


def _assert_matches_direct_sum(x, y, epsg, chunk=250_000):
    """Clenshaw vs direct sum: within 1e-12 deg, and equal after the
    extract kernel's np.round(., 6). Chunked to bound the direct sum's
    (6, n) temporaries."""
    for lo in range(0, len(x), chunk):
        got = projection.utm_inverse(x[lo:lo + chunk], y[lo:lo + chunk], epsg)
        want = _utm_inverse_direct(x[lo:lo + chunk], y[lo:lo + chunk], epsg)
        for g, w in zip(got, want):
            assert np.abs(g - w).max() <= 1e-12
            np.testing.assert_array_equal(np.round(g, 6), np.round(w, 6))


class TestCells:
    def test_roundtrip(self):
        rng = np.random.default_rng(5)
        lon = rng.uniform(-179.9, 179.9, 2000)
        lat = rng.uniform(-89.9, 89.9, 2000)
        for level in (4, 12, 20):
            cid = cells.cell_id(lon, lat, level)
            lvl, tx, ty = cells.cell_to_xy(cid)
            tx2, ty2 = cells.tile_xy(lon, lat, level)
            assert (lvl == level).all()
            assert np.array_equal(tx, tx2) and np.array_equal(ty, ty2)

    def test_parent_is_prefix(self):
        lon = np.array([77.2]); lat = np.array([28.3])
        child = cells.cell_id(lon, lat, 14)
        par = cells.parent(child, 2)
        assert np.array_equal(par, cells.cell_id(lon, lat, 12))

    def test_k_ring(self):
        assert len(cells.k_ring_xy(100, 100, 12, 0)) == 1
        assert len(cells.k_ring_xy(100, 100, 12, 1)) == 9
        assert len(cells.ring_only_xy(100, 100, 12, 3)) == 24
        # clipped at the grid edge
        assert len(cells.k_ring_xy(0, 0, 12, 1)) == 4

    def test_cover_bbox_contains_point_cells(self):
        cover = set(cells.cover_bbox(77.0, 28.0, 77.5, 28.5, 12).tolist())
        rng = np.random.default_rng(6)
        lon = rng.uniform(77.0, 77.5, 500)
        lat = rng.uniform(28.0, 28.5, 500)
        assert set(cells.cell_id(lon, lat, 12).tolist()) <= cover

    def test_tile_xy_matches_spark_twin_off_the_finite_range(self, spark):
        """NaN, +-inf and out-of-range degrees get the tile the Spark
        column gives (its floor saturates to a long, NaN -> 0)."""
        from pyspark.sql import functions as F

        vals = [float("nan"), float("inf"), float("-inf"), 1e300, -1e300,
                77.2, -180.0, 180.0, 28.3]
        pairs = [(a, b) for a in vals for b in vals]
        got = spark.createDataFrame(pairs, "lon double, lat double").select(
            cells.tile_id_col(F.col("lon"), F.col("lat"), 12).alias("t")).collect()
        tx, ty = cells.tile_xy(np.array([p[0] for p in pairs]),
                               np.array([p[1] for p in pairs]), 12)
        assert [r.t for r in got] == (tx * 4096 + ty).tolist()

    def test_cell_bounds_roundtrip(self):
        cid = int(cells.cell_id(np.array([77.2]), np.array([28.3]), 12)[0])
        mn_lon, mn_lat, mx_lon, mx_lat = cells.cell_bounds(cid)
        assert mn_lon <= 77.2 <= mx_lon
        assert mn_lat <= 28.3 <= mx_lat


class TestGeometry:
    def test_pip_box_equals_range_predicate(self):
        rng = np.random.default_rng(7)
        x = rng.uniform(76.8, 77.7, 4000)
        y = rng.uniform(27.8, 28.7, 4000)
        got = geometry.points_in_ring(x, y, synth.GOLDEN_DELHI_RING)
        want = (x > 77.0) & (x < 77.5) & (y > 28.0) & (y < 28.5)
        assert np.array_equal(got, want)

    def test_pip_concave(self):
        ring = [[0, 0], [4, 0], [4, 4], [2, 1], [0, 4], [0, 0]]
        x = np.array([2.0, 0.5, 3.5, 2.0])
        y = np.array([0.5, 3.0, 3.0, 3.0])
        got = geometry.points_in_ring(x, y, ring)
        assert got.tolist() == [True, True, True, False]  # notch excludes top-center

    def test_pip_hole(self):
        rings = [
            [[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]],
            [[4, 4], [6, 4], [6, 6], [4, 6], [4, 4]],
        ]
        x = np.array([5.0, 2.0])
        y = np.array([5.0, 2.0])
        got = geometry.points_in_polygon(x, y, rings)
        assert got.tolist() == [False, True]

    def test_bbox_intersects(self):
        assert geometry.bbox_intersects((0, 0, 2, 2), (1, 1, 3, 3))
        assert not geometry.bbox_intersects((0, 0, 1, 1), (2, 2, 3, 3))

    def test_normalize_geometry(self):
        poly = {"type": "Polygon", "coordinates": [synth.GOLDEN_DELHI_RING]}
        assert geometry.normalize_geometry(poly)[0][0] == [77.0, 28.0]
        feat = {"type": "Feature", "geometry": poly}
        assert geometry.normalize_geometry(feat) == geometry.normalize_geometry(poly)
        fc = {"type": "FeatureCollection", "features": [feat, {"type": "Feature", "geometry": {"type": "Polygon", "coordinates": [[[0, 0], [1, 0], [1, 1], [0, 0]]]}}]}
        assert geometry.normalize_geometry(fc) == geometry.normalize_geometry(poly)  # first feature only
        canvas = [poly, {"bounds": None}]
        assert geometry.normalize_geometry(canvas) == geometry.normalize_geometry(poly)


class TestSynth:
    def test_deterministic(self):
        a = synth.generate_pandas(np.arange(8), 32, [16])
        b = synth.generate_pandas(np.arange(8), 32, [16])
        assert a.drop(columns=["bytes"]).equals(b.drop(columns=["bytes"]))
        assert all(x == y for x, y in zip(a["bytes"], b["bytes"]))

    def test_phash_stability(self):
        g = synth.make_grid(5, synth.image_params(5, 32, [16]))
        assert synth.phash64(g[0]) == synth.phash64(g[0].copy())


class TestBufferRing:
    """True outward offset (per-edge normal + miter join) vs the
    documented centroid-scaling quirk — proving the quirk wrong on a
    concave shell and the real buffer right."""

    L_SHAPE = [(0.0, 0.0), (4.0, 0.0), (4.0, 1.0), (1.0, 1.0), (1.0, 4.0), (0.0, 4.0)]

    def _boundary_samples(self, ring, per_edge=25):
        import numpy as np

        r = geometry.close_ring(ring)
        pts = []
        for p, q in zip(r[:-1], r[1:]):
            for t in np.linspace(0.0, 1.0, per_edge, endpoint=False):
                pts.append(p + (q - p) * t)
        return np.asarray(pts)

    def test_buffer_contains_original_boundary_concave(self):
        import numpy as np

        buf = geometry.buffer_ring(self.L_SHAPE, 0.05)
        s = self._boundary_samples(self.L_SHAPE)
        inside = geometry.points_in_polygon(s[:, 0], s[:, 1], [buf])
        assert inside.all(), f"{(~inside).sum()} boundary points escaped the buffer"

    def test_centroid_quirk_fails_on_concave(self):
        """The round-1 shortcut provably loses boundary coverage on the
        same concave shell — this is why it is quarantined as a quirk."""
        buf = geometry.buffer_ring_centroid_quirk(self.L_SHAPE, 0.05)
        s = self._boundary_samples(self.L_SHAPE)
        inside = geometry.points_in_polygon(s[:, 0], s[:, 1], [buf])
        assert not inside.all()

    def test_buffer_grows_area_convex_and_respects_orientation(self):
        import numpy as np

        square = [(0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0)]
        for ring in (square, square[::-1]):  # CCW and CW
            buf = geometry.buffer_ring(ring, 0.1)
            assert abs(geometry.signed_area(buf)) > abs(geometry.signed_area(ring))
            # offset square is the square expanded by 0.1 on each side
            r = geometry.close_ring(buf)
            assert np.isclose(r[:, 0].min(), -0.1) and np.isclose(r[:, 0].max(), 2.1)
            assert np.isclose(r[:, 1].min(), -0.1) and np.isclose(r[:, 1].max(), 2.1)

    def test_buffer_tiny_dist_is_near_identity(self):
        import numpy as np

        buf = geometry.buffer_ring(self.L_SHAPE, 1e-9)
        orig = geometry.close_ring(self.L_SHAPE)
        assert np.allclose(buf, orig, atol=1e-7)


def test_points_in_union_overlap_counted_once():
    """Two overlapping squares: the overlap is IN the union (OR), though
    even-odd over the stacked rings would XOR it out."""
    import numpy as np

    from tiff_to_geojson_csv_json_format_converter_spark.functions import geometry

    sq1 = [[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0], [0.0, 0.0]]
    sq2 = [[1.0, 1.0], [3.0, 1.0], [3.0, 3.0], [1.0, 3.0], [1.0, 1.0]]
    x = np.array([1.5, 0.5, 2.5, 3.5])  # overlap, only sq1, only sq2, outside
    y = np.array([1.5, 0.5, 2.5, 3.5])
    got = geometry.points_in_union(x, y, [[sq1], [sq2]])
    assert got.tolist() == [True, True, True, False]
    # the stacked even-odd polygon is provably wrong on the overlap
    xor = geometry.points_in_polygon(x, y, [sq1, sq2])
    assert not xor[0]


def test_lossy_quant_codec_psnr_gate():
    """input_hint per-row invariant: decoded-pixel allclose with
    PSNR >= 40 dB for LOSSY formats; NoData survives bit-exact."""
    import numpy as np

    from tiff_to_geojson_csv_json_format_converter_spark.sources import codecs

    rng = np.random.default_rng(7)
    grid = (rng.random((32, 32)) * 900.0 + 100.0).astype(np.float32)
    grid[3, 4] = codecs.NODATA_F32
    grid[10, :] = codecs.NODATA_F32
    for fmt, min_db in (("q8", 40.0), ("q16", 80.0)):
        back = codecs.decode(codecs.encode(grid, fmt), fmt, 32, 32)
        nod = grid <= codecs.NODATA_F32 / 2
        assert (back[nod] == codecs.NODATA_F32).all()          # NoData exact
        assert not nod.any() or (back[~nod] > codecs.NODATA_F32 / 2).all()
        db = codecs.psnr(grid[~nod], back[~nod], peak=float(grid[~nod].max()))
        assert db >= min_db, (fmt, db)
        np.testing.assert_allclose(back[~nod], grid[~nod], rtol=0.01, atol=5.0)


def test_lossy_format_flows_through_extraction(spark):
    """A q8 image goes through the full Arrow extract path: same pixel
    count as lossless, values within quantization tolerance."""
    import numpy as np

    from tiff_to_geojson_csv_json_format_converter_spark.operators import extract
    from tiff_to_geojson_csv_json_format_converter_spark.sources import codecs, synth

    pdf = synth.generate_pandas(np.arange(2), 2, [16])
    img = pdf.iloc[0].to_dict()
    grid = codecs.decode(img["bytes"], img["fmt"], img["w"], img["h"] * img["band_count"])
    lossy = dict(img, fmt="q8", bytes=codecs.encode(grid, "q8"))
    df = spark.createDataFrame(
        [tuple(lossy[c] if c != "transform" else list(lossy[c]) for c in pdf.columns)],
        schema=synth.ARROW_SCHEMA_DDL,
    )
    ref = spark.createDataFrame(
        [tuple(img[c] if c != "transform" else list(img[c]) for c in pdf.columns)],
        schema=synth.ARROW_SCHEMA_DDL,
    )
    got = {r["pixel_idx"]: r for r in extract.extract_points(df).collect()}
    want = {r["pixel_idx"]: r for r in extract.extract_points(ref).collect()}
    assert set(got) == set(want)
    g = np.array([got[k]["elevation"] for k in sorted(got)])
    w_ = np.array([want[k]["elevation"] for k in sorted(want)])
    assert codecs.psnr(w_, g, peak=float(np.abs(w_).max())) >= 40.0
    # coordinates are lossless (transform untouched by the codec)
    assert all(got[k]["longitude"] == want[k]["longitude"] for k in got)


def test_classify_cells_interior_conservative_exact():
    """Interior cells must be provably uniform-inside: every sampled point
    of an interior-classified cell is inside; boundary cells may be mixed.
    Concave polygon + hole exercise both demotion paths."""
    import numpy as np

    from tiff_to_geojson_csv_json_format_converter_spark.functions import cells, geometry

    rings = [
        [[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [5.0, 5.0], [0.0, 10.0], [0.0, 0.0]],
        [[2.0, 2.0], [3.0, 2.0], [3.0, 3.0], [2.0, 3.0], [2.0, 2.0]],  # hole
    ]
    cover = cells.cover_bbox(0.0, 0.0, 10.0, 10.0, 8)
    boxes = np.array([cells.cell_bounds(int(c)) for c in cover])
    interior = geometry.classify_cells_interior(boxes, rings)
    assert interior.any() and not interior.all()
    rng = np.random.default_rng(9)
    for box in boxes[interior]:
        x = rng.uniform(box[0], box[2], 64)
        y = rng.uniform(box[1], box[3], 64)
        assert geometry.points_in_polygon(x, y, rings).all()


def test_center_sample_ring_reference_semantics():
    """D5: miss-everything fallback square — center placement, 10% of the
    smaller extent, reference vertex order (test2.py:1246-1256)."""
    import numpy as np

    from tiff_to_geojson_csv_json_format_converter_spark.functions import geometry

    ring = geometry.center_sample_ring((0.0, 0.0, 10.0, 4.0))
    assert np.allclose(ring[0], (5.0 - 0.2, 2.0 - 0.2))
    assert np.allclose(ring[2], (5.2, 2.2))
    assert np.array_equal(ring[0], ring[-1])
    # every vertex inside the raster bounds, area = (0.1*4)^2
    xs, ys = ring[:, 0], ring[:, 1]
    assert xs.min() >= 0 and xs.max() <= 10 and ys.min() >= 0 and ys.max() <= 4
    assert abs((xs.max() - xs.min()) * (ys.max() - ys.min()) - 0.16) < 1e-12
