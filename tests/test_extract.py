"""Engine extraction vs the numpy reference oracle, row-for-row
(SURVEY.md §5 item 1: oracle equality on the synthetic image table)."""

import numpy as np
import pandas as pd
import pytest

from tests import oracle
from tiff_to_geojson_csv_json_format_converter_spark.operators import extract
from tiff_to_geojson_csv_json_format_converter_spark.sources import synth

KEY = ["image_id", "band", "pixel_idx"]


@pytest.fixture(scope="module")
def images_pdf():
    n, sizes = synth.SCALES["xs"]
    return synth.generate_pandas(np.arange(n), n, sizes)


@pytest.fixture(scope="module")
def images_sdf(spark):
    return synth.images_df(spark, "xs").cache()


def _compare(got: pd.DataFrame, want: pd.DataFrame):
    got = got.sort_values(KEY).reset_index(drop=True)
    want = want.sort_values(KEY).reset_index(drop=True)
    assert len(got) == len(want), f"row count {len(got)} != {len(want)}"
    for k in KEY:
        assert got[k].tolist() == want[k].tolist(), f"mismatch in {k}"
    for c in ["longitude", "latitude", "elevation"]:
        np.testing.assert_array_equal(got[c].to_numpy(), want[c].to_numpy(), err_msg=c)


def test_spark_generator_matches_local(spark, images_pdf, images_sdf):
    got = images_sdf.toPandas().sort_values("image_id").reset_index(drop=True)
    want = images_pdf.sort_values("image_id").reset_index(drop=True)
    assert got["image_id"].tolist() == want["image_id"].tolist()
    assert got["caption"].tolist() == want["caption"].tolist()  # caption equality invariant
    assert got["phash"].tolist() == want["phash"].tolist()
    assert all(a == b for a, b in zip(got["bytes"], want["bytes"]))


def test_valid_points_pipeline(spark, images_pdf, images_sdf):
    """willOnlyStoreValidPoints.py semantics: filter z > -1e30, round 6/6/2."""
    got = extract.extract_points(images_sdf, valid_only=True).toPandas()
    want = oracle.extract_points(images_pdf, valid_only=True)
    _compare(got, want)


def test_full_pipeline_force_extract(spark, images_pdf, images_sdf):
    """completePixleOutput.py semantics: ALL pixels, no filter."""
    got = extract.extract_points(images_sdf, valid_only=False).toPandas()
    want = oracle.extract_points(images_pdf, valid_only=False)
    _compare(got, want)
    # every pixel of every band accounted for
    n, sizes = synth.SCALES["xs"]
    total = sum(
        img["w"] * img["h"] * img["band_count"] for img in images_pdf.to_dict("records")
    )
    assert len(got) == total


def test_sampled_pipeline(spark, images_pdf, images_sdf):
    """doesSamples.py semantics: stride caps (shrunk to bite at xs scale)."""
    got = extract.extract_points(
        images_sdf, valid_only=False, sample_cap=100, geojson_cap=40
    ).toPandas()
    want = oracle.extract_points(images_pdf, valid_only=False, sample_cap=100, geojson_cap=40)
    _compare(got, want)


def test_sampled_valid_pipeline(spark, images_pdf, images_sdf):
    got = extract.extract_points(images_sdf, valid_only=True, sample_cap=150).toPandas()
    want = oracle.extract_points(images_pdf, valid_only=True, sample_cap=150)
    _compare(got, want)


def test_unrounded(spark, images_pdf, images_sdf):
    got = extract.extract_points(images_sdf, valid_only=True, round_output=False).toPandas()
    want = oracle.extract_points(images_pdf, valid_only=True, round_output=False)
    _compare(got, want)


def test_all_nodata_images_emit_nothing(spark, images_pdf, images_sdf):
    """The early-exit path (willOnlyStoreValidPoints.py:74-95): all-NoData
    images produce zero rows under valid_only."""
    empty_ids = {
        img["image_id"] for img in images_pdf.to_dict("records")
        if synth.image_params(int(img["image_id"][4:]), 32, [16])["valid_mode"] == "empty"
    }
    assert empty_ids
    got = extract.extract_points(images_sdf, valid_only=True).toPandas()
    assert empty_ids.isdisjoint(set(got["image_id"]))


def test_points_batches_match_old_construction(images_pdf):
    """extract_points' Arrow body (the extract driver with the points
    emit), run without Spark over one batch of several images with a
    batch cap that splits bands: every emitted batch equals the earlier
    construction (image_id from a numpy repeat of Python strings, band
    buffered as int64 then cast to int32)."""
    import pyarrow as pa

    cap = 100
    cols = ["image_id", "bytes", "w", "h", "fmt", "transform", "crs", "band_count"]
    recs = images_pdf[cols].head(12).to_dict("records")
    got = list(extract._fold_batches(
        iter([pa.RecordBatch.from_pylist(recs)]), extract.POINTS_SCHEMA, extract._emit_points,
        (True, None, None, True), None, cap))

    def old_batch(chunks):  # chunk: (image_id, band, pixel_idx, lon, lat, z)
        return pa.RecordBatch.from_arrays(
            [
                pa.array(np.concatenate([np.repeat(c[0], len(c[2])) for c in chunks])),
                pa.array(np.concatenate(
                    [np.full(len(c[2]), c[1], dtype=np.int64) for c in chunks]).astype(np.int32)),
                *(pa.array(np.concatenate([c[k] for c in chunks])) for k in (2, 3, 4, 5)),
            ],
            names=["image_id", "band", "pixel_idx", "longitude", "latitude", "elevation"],
        )

    want, chunks, n_buf, split = [], [], 0, False
    for r in recs:
        for band, *arrs in extract._extract_image(*(r[c] for c in cols), True, None, None, True):
            split |= len(arrs[0]) > cap
            for lo in range(0, len(arrs[0]), cap):
                chunks.append((r["image_id"], band, *(a[lo:lo + cap] for a in arrs)))
                n_buf += len(chunks[-1][2])
                if n_buf >= cap:
                    want.append(old_batch(chunks))
                    chunks, n_buf = [], 0
    if chunks:
        want.append(old_batch(chunks))
    assert split and len({r["image_id"] for r in recs}) > 1 and len(want) > 2
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g.schema == w.schema and g.equals(w)


def test_bench_host_probe_runs_the_kernel():
    """bench.make_host_probe (perfbench's host-speed sample) calls
    _extract_image positionally: it still runs and times it."""
    import bench

    seconds = bench.make_host_probe()()
    assert isinstance(seconds, float) and seconds > 0


def test_windowed_read_equals_filtered_full_extract(spark, images_pdf, images_sdf):
    """A4 windowed read: bbox pushed into the decode must equal
    full-extract-then-filter exactly (the crop=True economy)."""
    bbox = (77.05, 28.05, 77.3, 28.3)
    got = extract.extract_points(images_sdf, valid_only=True, bbox=bbox).toPandas()
    full = extract.extract_points(images_sdf, valid_only=True).toPandas()
    want = full[
        (full.longitude >= bbox[0]) & (full.longitude <= bbox[2])
        & (full.latitude >= bbox[1]) & (full.latitude <= bbox[3])
    ]
    got_f = got[
        (got.longitude >= bbox[0]) & (got.longitude <= bbox[2])
        & (got.latitude >= bbox[1]) & (got.latitude <= bbox[3])
    ]
    _compare(got_f.copy(), want.copy())
    # the window really pruned work: superset of the bbox, subset of full
    assert len(want) <= len(got) < len(full)


@pytest.mark.parametrize("crs, transform", [
    ("EPSG:32643", (187.3, 41.9, 431_000.7, -23.1, -196.7, 3_121_000.3)),
    ("EPSG:4326", (0.0021, 0.00037, 77.1, 0.00043, -0.0019, 28.4)),
])
def test_full_grid_path_equals_index_form_on_sheared_transform(crs, transform):
    """With b, d != 0, the full-grid path (affine broadcast over a row and
    a column vector, no z gather) gives exactly the x/y, and so the
    rows, of the ``idx // w, idx % w`` form; a strided read, which
    takes the index form, gives the same rows at its indices."""
    from tiff_to_geojson_csv_json_format_converter_spark.functions import affine, projection
    from tiff_to_geojson_csv_json_format_converter_spark.sources import codecs

    h, w, bands = 37, 53, 2
    idx = np.arange(h * w, dtype=np.int64)
    xb, yb = affine.pixel_to_world(transform, np.arange(h)[:, None], np.arange(w))
    xi, yi = affine.pixel_to_world(transform, idx // w, idx % w)
    np.testing.assert_array_equal(xb.reshape(-1), xi)
    np.testing.assert_array_equal(yb.reshape(-1), yi)

    rng = np.random.default_rng(5)
    grid = (rng.random((bands * h, w)) * 900 + 100).astype(np.float32)
    grid[rng.random(grid.shape) < 0.2] = codecs.NODATA_F32
    lon, lat = projection.to_wgs84(
        xi.astype(np.float32).astype(np.float64), yi.astype(np.float32).astype(np.float64), crs)
    args = ("sheared", codecs.encode(grid, "raw_f32"), w, h, "raw_f32", transform, crs, bands, True)
    full = list(extract._extract_image(*args, None, None, False))
    strided = list(extract._extract_image(*args, h * w // 3, None, False))
    assert [b[0] for b in full] == [b[0] for b in strided] == list(range(bands))
    for band, bi, bl, bb, bz in full:
        z = grid[band * h:(band + 1) * h].reshape(-1)
        mask = z > -1e30
        np.testing.assert_array_equal(bi, idx[mask])
        np.testing.assert_array_equal(bl, lon[mask])
        np.testing.assert_array_equal(bb, lat[mask])
        np.testing.assert_array_equal(bz, z[mask].astype(np.float64))
    for (_, fi, fl, fb, fz), (_, si, sl, sb, sz) in zip(full, strided):
        assert len(si) and set(si % 3) == {0}
        keep = np.isin(fi, si)
        for f, s in ((fi, si), (fl, sl), (fb, sb), (fz, sz)):
            np.testing.assert_array_equal(f[keep], s)


def test_fold_by_key_equals_one_level_stable_sort():
    """The run-then-head count gives what a stable sort of every row
    gives, on keys that come in runs and recur (a tile re-entered on the
    next pixel row)."""
    rng = np.random.default_rng(9)
    key = np.repeat(rng.integers(0, 6, 400), rng.integers(1, 30, 400)).astype(np.int64)
    ks = key[np.argsort(key, kind="stable")]
    starts = np.flatnonzero(np.r_[True, ks[1:] != ks[:-1]])
    keys, n = extract.fold_by_key(key)
    np.testing.assert_array_equal(keys, ks[starts])
    np.testing.assert_array_equal(n, np.diff(np.r_[starts, len(ks)]))


def test_analyze_bounds_match_oracle(spark, images_pdf, images_sdf):
    pts = extract.extract_points(images_sdf, valid_only=True)
    got = extract.analyze_images(pts).toPandas().set_index("image_id").sort_index()
    want_pts = oracle.extract_points(images_pdf, valid_only=True)
    want = want_pts.groupby("image_id").agg(
        valid_pixels=("pixel_idx", "size"),
        min_longitude=("longitude", "min"), max_longitude=("longitude", "max"),
        min_latitude=("latitude", "min"), max_latitude=("latitude", "max"),
        min_elevation=("elevation", "min"), max_elevation=("elevation", "max"),
    ).sort_index()
    assert got["valid_pixels"].tolist() == want["valid_pixels"].tolist()
    for c in want.columns[1:]:
        np.testing.assert_array_equal(got[c].to_numpy(), want[c].to_numpy(), err_msg=c)


def test_windowed_read_exact_across_central_meridian(spark):
    """A4 regression: a bbox SPANNING the UTM central meridian — where
    constant-latitude edges curve in pixel space and corner-only window
    mapping drops in-bbox rows — must still equal full-then-filter."""
    import numpy as np

    from tiff_to_geojson_csv_json_format_converter_spark.sources import codecs, synth

    w, h = 520, 60
    rng = np.random.default_rng(21)
    grid = (rng.random((h, w)) * 500 + 100).astype(np.float32)
    # 1 km pixels spanning easting 245k..765k (lon0=75 for EPSG:32643);
    # at ±2.4° of the meridian the constant-lat edge dips ~2.3 px below
    # its corners — verified numerically to exceed the old corner-only
    # window's +1.5 px pad (rows dropped pre-fix)
    transform = [1000.0, 0.0, 245000.0, 0.0, -1000.0, 3140000.0]
    row = {
        "image_id": "meridian_img", "bytes": codecs.encode(grid, "raw_f32"),
        "w": w, "h": h, "fmt": "raw_f32", "caption": "x", "phash": 0,
        "transform": transform, "crs": "EPSG:32643",
        "nodata": float(codecs.NODATA_F32), "band_count": 1,
        "min_lon": 0.0, "min_lat": 0.0, "max_lon": 0.0, "max_lat": 0.0,
    }
    df = spark.createDataFrame([tuple(row.values())], schema=synth.ARROW_SCHEMA_DDL)
    bbox = (72.6, 27.9, 77.4, 28.3)  # spans lon0 = 75 by ±2.4°
    got = extract.extract_points(df, valid_only=True, bbox=bbox).toPandas()
    full = extract.extract_points(df, valid_only=True).toPandas()
    want = full[
        (full.longitude >= bbox[0]) & (full.longitude <= bbox[2])
        & (full.latitude >= bbox[1]) & (full.latitude <= bbox[3])
    ]
    assert sorted(got.pixel_idx) == sorted(want.pixel_idx)
    assert 0 < len(got) < len(full)


def test_windowed_geojson_cap_equals_full_then_filter(spark, images_sdf):
    """C2 + A4: the geojson stride must run on the full sample-capped
    sequence so a pushed-down bbox selects a SUBSET of the full path's
    pixels, never a re-strided different set."""
    bbox = (77.05, 28.05, 77.3, 28.3)
    got = extract.extract_points(
        images_sdf, valid_only=True, bbox=bbox, geojson_cap=50
    ).toPandas()
    full = extract.extract_points(
        images_sdf, valid_only=True, geojson_cap=50
    ).toPandas()
    want = full[
        (full.longitude >= bbox[0]) & (full.longitude <= bbox[2])
        & (full.latitude >= bbox[1]) & (full.latitude <= bbox[3])
    ]
    got_f = got[
        (got.longitude >= bbox[0]) & (got.longitude <= bbox[2])
        & (got.latitude >= bbox[1]) & (got.latitude <= bbox[3])
    ]
    key = lambda d: sorted(zip(d.image_id, d.band, d.pixel_idx))
    assert key(got_f) == key(want)


def test_overview_chain_hand_fixture():
    """The NoData-aware 2x2 box filter against hand-computed values:
    a 4x5 grid (odd col truncated), one all-invalid quad, one
    negative-sum quad (floor toward -inf), one partial quad."""
    c = np.array([
        [100, 200,   0,   0,  7],
        [300, 400,   0,   0,  7],
        [ -5,  -2,  10,  20,  7],
        [  0,   0,  30,  40,  7],
    ], dtype=np.int64)
    v = np.array([
        [1, 1, 0, 0, 1],
        [1, 1, 0, 0, 1],
        [1, 1, 1, 1, 1],
        [0, 0, 1, 1, 1],
    ], dtype=bool)
    (p1, v1), (p2, v2) = extract.overview_chain(c, v, levels=5)
    # quad A: mean(100,200,300,400)=250; quad B: all invalid -> 0/False;
    # quad C: valid (-5,-2) -> floor(-7/2) = -4; quad D: full quad 25
    np.testing.assert_array_equal(p1, [[250, 0], [-4, 25]])
    np.testing.assert_array_equal(v1, [[True, False], [True, True]])
    # level 2: single parent of (250,_,-4,25): floor(271/3) = 90
    np.testing.assert_array_equal(p2, [[90]])
    np.testing.assert_array_equal(v2, [[True]])
    # chain stops when a dimension hits zero (1x1 cannot halve)
    assert len(extract.overview_chain(c, v, levels=5)) == 2


def test_build_overviews_matches_local_replay(spark, images_pdf, images_sdf):
    """The distributed operator must equal the single-process replay of
    the same kernel row-for-row (no lost/duplicated images, correct
    batch handling)."""
    got = extract.build_overviews(images_sdf, levels=3).toPandas()
    want_rows = []
    for img in images_pdf.to_dict("records"):
        for band, lv, p, nv in extract.iter_overviews(
                img["bytes"], img["fmt"], img["w"], img["h"],
                img["band_count"], 3):
            want_rows.append((img["image_id"], band, lv, p.shape[1],
                              p.shape[0], int(nv.sum()), int(p[nv].sum())))
    key_cols = ["image_id", "band", "level", "w", "h", "n_valid", "sum_cents"]
    got_set = sorted(map(tuple, got[key_cols].itertuples(index=False)))
    assert got_set == sorted(want_rows)


def test_build_overviews_grids_roundtrip(spark, images_sdf):
    """include_grids=True ships the actual overview arrays as npy bytes."""
    import io

    row = (extract.build_overviews(images_sdf.limit(4), levels=1,
                                   include_grids=True)
           .filter("level = 1").toPandas().iloc[0])
    arr = np.load(io.BytesIO(row["grid"]))
    assert arr.dtype == np.int64 and arr.shape == (row["h"], row["w"])


class TestTerrain:
    def test_horn_tilted_plane_exact(self):
        """On a perfect plane z = 3*col + 4*row the Horn stencil
        recovers the gradient exactly: slope = atan(5), aspect fixed."""
        from tiff_to_geojson_csv_json_format_converter_spark.operators import terrain

        rr, cc = np.mgrid[0:6, 0:7]
        z = (3.0 * cc + 4.0 * rr).astype(np.float32)
        valid = np.ones_like(z, dtype=bool)
        slope, aspect, ok = terrain.horn_slope_aspect(z, valid, 1.0, 1.0)
        assert ok.all() and slope.shape == (4, 5)
        want_slope = np.degrees(np.arctan(np.hypot(3.0, 4.0)))
        want_aspect = np.mod(np.degrees(np.arctan2(4.0, -3.0)) + 360.0, 360.0)
        np.testing.assert_allclose(slope, want_slope, rtol=1e-12)
        np.testing.assert_allclose(aspect, want_aspect, rtol=1e-12)

    def test_horn_nodata_poisons_neighborhood(self):
        """A single NoData cell invalidates exactly the 3x3 interior
        pixels whose stencil touches it — no gradient across holes."""
        from tiff_to_geojson_csv_json_format_converter_spark.operators import terrain

        z = np.ones((5, 5), dtype=np.float32)
        valid = np.ones_like(z, dtype=bool)
        valid[2, 2] = False
        _, _, ok = terrain.horn_slope_aspect(z, valid, 1.0, 1.0)
        # interior is 3x3 (indices 1..3 of the grid); the center cell
        # (2,2) touches every one of them
        assert not ok.any()
        valid[:] = True
        valid[0, 0] = False
        _, _, ok = terrain.horn_slope_aspect(z, valid, 1.0, 1.0)
        assert not ok[0, 0] and ok.sum() == 8

    def test_terrain_points_matches_replay_and_pushdown(self, spark, images_pdf, images_sdf):
        """Distributed terrain rows == single-process replay of the same
        kernel; the slope_min pushdown returns exactly the >= subset."""
        from tiff_to_geojson_csv_json_format_converter_spark.operators import terrain

        got = terrain.terrain_points(images_sdf).toPandas()
        want = []
        for img in images_pdf.to_dict("records"):
            for band, slope, aspect, ok in terrain.iter_terrain(
                    img["bytes"], img["fmt"], img["w"], img["h"],
                    img["band_count"], list(img["transform"])):
                sc = np.floor(slope * 100.0).astype(np.int64)
                ac = np.floor(aspect * 100.0).astype(np.int64)
                rr, cc = np.nonzero(ok)
                for r_, c_ in zip(rr, cc):
                    want.append((img["image_id"], band,
                                 (r_ + 1) * img["w"] + (c_ + 1),
                                 int(sc[r_, c_]), int(ac[r_, c_])))
        key = ["image_id", "band", "pixel_idx", "slope_centideg", "aspect_centideg"]
        assert sorted(map(tuple, got[key].itertuples(index=False))) == sorted(want)
        thresh = int(np.median(got["slope_centideg"])) if len(got) else 0
        steep = terrain.terrain_points(images_sdf, slope_min_centideg=thresh).toPandas()
        want_steep = got[got["slope_centideg"] >= thresh]
        assert sorted(map(tuple, steep[key].itertuples(index=False))) == \
               sorted(map(tuple, want_steep[key].itertuples(index=False)))
