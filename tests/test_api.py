"""Converter API + TIFF-directory source parity tests: real .tif files
on disk -> binaryFile scan -> full pipeline -> reference-shaped outputs."""

import json
import os

import numpy as np
import pytest

from tests import oracle
from tiff_to_geojson_csv_json_format_converter_spark.api import Converter
from tiff_to_geojson_csv_json_format_converter_spark.sources import codecs, synth, tiff_dir


@pytest.fixture(scope="module")
def images_pdf():
    n, sizes = synth.SCALES["xs"]
    pdf = synth.generate_pandas(np.arange(n), n, sizes)
    # GeoTIFF PixelScale form requires single-band axis-aligned images
    return pdf[pdf["band_count"] == 1].reset_index(drop=True)


@pytest.fixture(scope="module")
def tiff_directory(images_pdf, tmp_path_factory):
    d = tmp_path_factory.mktemp("tiffs")
    tiff_dir.write_tiff_dir(images_pdf, str(d))
    return str(d)


class TestGeoTiff:
    def test_geotiff_metadata_roundtrip(self):
        rng = np.random.default_rng(9)
        arr = rng.normal(1000, 100, (20, 30)).astype(np.float32)
        tr = (0.002, 0.0, 77.25, 0.0, -0.002, 28.375)
        buf = codecs.encode_tiff(arr, transform=tr, crs="EPSG:32643", nodata=float(codecs.NODATA_F32))
        assert np.array_equal(codecs.decode_tiff(buf), arr)
        meta = codecs.decode_geotiff_meta(buf)
        assert meta["w"] == 30 and meta["h"] == 20
        assert meta["transform"] == pytest.approx(tr)
        assert meta["crs"] == "EPSG:32643"
        assert meta["nodata"] == pytest.approx(float(codecs.NODATA_F32))

    def test_geographic_crs_key(self):
        arr = np.zeros((4, 4), dtype=np.uint8)
        buf = codecs.encode_tiff(arr, transform=(1.0, 0, 0, 0, -1.0, 0), crs="EPSG:4326")
        assert codecs.decode_geotiff_meta(buf)["crs"] == "EPSG:4326"


class TestTiffDirSource:
    def test_scan_parses_all_files(self, spark, tiff_directory, images_pdf):
        df = tiff_dir.read_tiff_dir(spark, tiff_directory)
        got = df.toPandas().sort_values("image_id").reset_index(drop=True)
        assert len(got) == len(images_pdf)
        assert got["image_id"].tolist() == sorted(f"{i}.tif" for i in images_pdf["image_id"])
        # metadata parsed back identically
        want = images_pdf.sort_values("image_id").reset_index(drop=True)
        np.testing.assert_allclose(
            np.stack(got["transform"].to_numpy()), np.stack(want["transform"].to_numpy())
        )
        assert got["crs"].tolist() == want["crs"].tolist()

    def test_extraction_from_disk_matches_oracle(self, spark, tiff_directory, images_pdf):
        """Full file-to-points parity: real .tif files through binaryFile
        must yield the same points as the in-memory table."""
        from tiff_to_geojson_csv_json_format_converter_spark.operators import extract

        df = tiff_dir.read_tiff_dir(spark, tiff_directory)
        got = extract.extract_points(df, valid_only=True).toPandas()
        got["image_id"] = got["image_id"].str.replace(".tif", "", regex=False)
        want = oracle.extract_points(images_pdf, valid_only=True)
        got = got.sort_values(["image_id", "band", "pixel_idx"]).reset_index(drop=True)
        want = want.sort_values(["image_id", "band", "pixel_idx"]).reset_index(drop=True)
        assert len(got) == len(want)
        for c in ["longitude", "latitude", "elevation"]:
            np.testing.assert_array_equal(got[c].to_numpy(), want[c].to_numpy(), err_msg=c)


def _info_files_and_empty_images(conv, out) -> tuple:
    """The images ``convert(mode='valid')`` wrote an info file for, and
    the images whose extraction has no valid point."""
    from tiff_to_geojson_csv_json_format_converter_spark.operators import extract

    infos = {p[:-len(".info.txt")] for p in os.listdir(out) if p.endswith(".info.txt")}
    have = {r["image_id"] for r in extract.extract_points(conv.images)
            .select("image_id").distinct().collect()}
    return infos, {r["image_id"] for r in conv.images.select("image_id").collect()} - have


class TestConverter:
    def test_convert_valid_mode_outputs(self, spark, tmp_path):
        conv = Converter.from_synthetic(spark, "xs")
        res = conv.convert(str(tmp_path / "out"), mode="valid")
        assert res["catalog"]["total_files"] > 0
        assert res["geojson_files"]
        # a geojson file parses and has the reference envelope shape
        with open(res["geojson_files"][0]) as f:
            doc = json.load(f)
        assert doc["type"] == "FeatureCollection"
        assert doc["features"][0]["geometry"]["type"] == "Point"
        # all-NoData images got info files instead of geojson
        infos, empties = _info_files_and_empty_images(conv, tmp_path / "out")
        assert infos and infos == empties

    def test_convert_valid_mode_duplicate_image_row(self, spark, tmp_path):
        """A repeated images row: one catalog entry per row, and still one
        info file per all-NoData image and none for the repeated one."""
        from pyspark.sql import functions as F

        from tiff_to_geojson_csv_json_format_converter_spark.operators import extract, sinks

        images = synth.images_df(spark, "xs")
        first = images.orderBy("image_id").first()["image_id"]
        conv = Converter(spark, images.unionByName(images.filter(F.col("image_id") == first)))
        res = conv.convert(str(tmp_path / "out"), mode="valid")
        assert res["catalog"]["total_files"] == images.count() + 1
        infos, empties = _info_files_and_empty_images(conv, tmp_path / "out")
        assert infos and infos == empties
        # one GeoJSON document and file per id; the repeated id's holds
        # both rows' points and totals
        pts = extract.extract_points(conv.images).filter("band = 0")
        docs = sinks.geojson_collection_docs(pts, conv.images).select("image_id").collect()
        assert len(docs) == len({r["image_id"] for r in docs})
        assert len(res["geojson_files"]) == len(set(res["geojson_files"])) == len(docs)
        with open(tmp_path / "out" / f"{first}_wgs84.geojson") as f:
            meta = json.load(f)["metadata"]
        w, h = images.filter(F.col("image_id") == first).select("w", "h").first()
        assert meta["total_original_points"] == 2 * w * h
        assert 0 < meta["geojson_points"] <= meta["total_original_points"]

    def test_convert_valid_mode_catalog_is_summary_path(self, spark, tmp_path, monkeypatch):
        """convert(mode='valid') writes the catalog Converter.catalog()
        builds, from the per-images-row summaries, not the points."""
        from tiff_to_geojson_csv_json_format_converter_spark.operators import extract

        conv = Converter(spark, synth.images_df(spark, "xs").localCheckpoint())
        seen = []
        real = extract.extract_summaries
        monkeypatch.setattr(extract, "extract_summaries",
                            lambda images: seen.append(images) or real(images))
        res = conv.convert(str(tmp_path / "out"), mode="valid")
        assert len(seen) == 1 and seen[0] is conv.images
        with open(tmp_path / "out" / "master_catalog.json") as f:
            assert json.load(f) == res["catalog"] == conv.catalog()

    def test_analyze_contract(self, spark):
        conv = Converter.from_synthetic(spark, "xs")
        out = conv.analyze().toPandas()
        assert {"valid_percentage", "has_valid_data", "data_sparsity"} <= set(out.columns)
        assert (out[~out["has_valid_data"]]["valid_pixels"] == 0).all()

    def test_zonal_response_contract(self, spark):
        conv = Converter.from_synthetic(spark, "xs")
        resp = json.loads(conv.zonal_response(
            {"type": "Polygon", "coordinates": [synth.GOLDEN_DELHI_RING]}, "slope"
        ))
        assert resp["status"] == "success" and resp["layer"] == "slope"
        assert "band_1" in resp["min_max"]

    def test_zonal_response_equals_cached_points_response(self, spark, monkeypatch):
        """zonal_response folds inside the extract pass; the response is
        the one built over cached points (the row path)."""
        from tiff_to_geojson_csv_json_format_converter_spark.operators import extract, zonal

        images = synth.images_df(spark, "xs").localCheckpoint()
        conv = Converter(spark, images)
        geom = {"type": "MultiPolygon", "coordinates": [[synth.GOLDEN_DELHI_RING]]}
        folded = []
        real = zonal._zonal_in_extract
        monkeypatch.setattr(zonal, "_zonal_in_extract", lambda *a: folded.append(a) or real(*a))
        got = json.loads(conv.zonal_response(geom, "slope"))
        assert len(folded) == 1
        pts = extract.extract_points(images, valid_only=True).cache()
        monkeypatch.setattr(extract, "extract_points", lambda *a, **kw: pts)
        try:
            want = json.loads(conv.zonal_response(geom, "slope"))
        finally:
            pts.unpersist()
        assert len(folded) == 1
        assert set(got["min_max"]) == set(want["min_max"]) and len(want["min_max"]) > 1
        for band, w in want["min_max"].items():
            g = got["min_max"][band]
            assert {k: g[k] for k in ("min", "max", "count", "data_type")} == \
                {k: w[k] for k in ("min", "max", "count", "data_type")}
            assert g["mean"] == pytest.approx(w["mean"], rel=1e-12, abs=0)
            assert g["std"] == pytest.approx(w["std"], rel=1e-12, abs=0)
        got["min_max"] = want["min_max"] = None
        assert got == want


class TestCsvByteParity:
    def test_csv_lines_match_pandas_to_csv(self, spark, images_pdf, tmp_path):
        """A7: the rows sinks.write_csv_per_image writes for an image must
        byte-equal what the reference writes via
        df.to_csv(float_format='%.6f') (doesSamples.py:101). The part
        files have no pixel order, so the lines are compared sorted."""
        import glob
        import io

        from pyspark.sql import functions as F

        from tiff_to_geojson_csv_json_format_converter_spark.operators import extract, sinks

        one = images_pdf[images_pdf["image_id"] == "img_00000000"]
        sdf = synth.images_df(spark, "xs").filter(F.col("image_id") == "img_00000000")
        pts = extract.extract_points(sdf, valid_only=True).filter("band = 0")
        out = str(tmp_path / "csv")
        sinks.write_csv_per_image(pts, out)
        header, got = "longitude,latitude,elevation", []
        for part in glob.glob(os.path.join(out, "image_id=img_00000000", "part-*.csv")):
            with open(part) as f:
                lines = f.read().splitlines()
            assert lines[0] == header
            got += lines[1:]
        want_pts = oracle.extract_points(one, valid_only=True)
        want_pts = want_pts[want_pts["band"] == 0]
        buf = io.StringIO()
        want_pts[["longitude", "latitude", "elevation"]].to_csv(
            buf, index=False, float_format="%.6f", header=False
        )
        want = buf.getvalue().splitlines()
        assert want and sorted(got) == sorted(want)


class TestCli:
    def test_cli_analyze_synthetic(self, spark, capsys):
        # reuse the running session via getOrCreate inside the CLI
        from tiff_to_geojson_csv_json_format_converter_spark import cli

        rc = cli.main(["analyze", "--synthetic", "xs"])
        assert rc == 0
        out = capsys.readouterr().out.strip().splitlines()[-1]
        doc = json.loads(out)
        assert doc["files"] == 32
