"""End-to-end pipeline tests: zonal/kNN/tiling vs the numpy oracle on
real decoded rasters, resumable catalog, streaming incremental driver,
sink formatting parity (SURVEY.md §5 items 3-5)."""

import json
import os

import numpy as np
import pytest

from tests import oracle
from tiff_to_geojson_csv_json_format_converter_spark.functions import cells, geometry
from tiff_to_geojson_csv_json_format_converter_spark.operators import (
    extract, joins, sinks, tiling, zonal,
)
from tiff_to_geojson_csv_json_format_converter_spark.plans.catalog import ParquetCatalog
from tiff_to_geojson_csv_json_format_converter_spark.sources import synth
from tiff_to_geojson_csv_json_format_converter_spark.streaming import incremental


@pytest.fixture(scope="module")
def images_pdf():
    n, sizes = synth.SCALES["xs"]
    return synth.generate_pandas(np.arange(n), n, sizes)


@pytest.fixture(scope="module")
def points_sdf(spark):
    return extract.extract_points(synth.images_df(spark, "xs"), valid_only=True).cache()


@pytest.fixture(scope="module")
def zonal_images(spark):
    """The xs images under a plan of their own: no cached points frame
    elsewhere in the session matches an extract over them."""
    return synth.images_df(spark, "xs").localCheckpoint()


def _box(x0, y0, x1, y1):
    return [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]


def _ring(cx, cy, radii):
    """A closed ring with one vertex per radius, evenly spaced in angle."""
    r = np.asarray(radii, dtype=np.float64)
    a = np.pi / 2 + np.arange(len(r)) * 2 * np.pi / len(r)
    ring = np.c_[cx + r * np.cos(a), cy + r * np.sin(a)].tolist()
    return ring + ring[:1]


# polygons over the xs images (16 px images of ~0.032 deg, most inside
# the golden ring)
_ZONAL_POLYGONS = {
    "golden": [synth.GOLDEN_DELHI_RING],
    "holed_box": [_box(77.0, 28.0, 77.3, 28.3), _box(77.1, 28.1, 77.2, 28.2)],
    "concave_star": [_ring(77.25, 28.2, [0.2, 0.08] * 5)],
    "multipolygon": geometry.normalize_geometry({"type": "MultiPolygon", "coordinates": [
        [_box(77.405, 28.015, 77.425, 28.035)], [_box(77.15, 28.41, 77.17, 28.43)]]}),
    "many_edges": [_ring(77.25, 28.25, [0.15] * 80)],  # one ring of 80 edges
    "miss": [_box(0.0, 0.0, 1.0, 1.0)],
}


def _catalog_reference(per_image, images) -> dict:
    """sinks.catalog_document as a Spark LEFT join + orderBy + collect(),
    with the overall bounds folded by Spark's min/max over the joined
    rows: the reference the driver-side merge and sort must reproduce."""
    from pyspark.sql import functions as F

    joined = (
        images.select("image_id", "w", "h", "caption")
        .join(per_image, "image_id", "left")
        .na.fill({"valid_pixels": 0})
    )
    per_file = joined.orderBy("image_id").collect()
    bounds = ("min_longitude", "max_longitude", "min_latitude", "max_latitude",
              "min_elevation", "max_elevation")
    ob = joined.agg(*(getattr(F, b[:3])(b).alias(b) for b in bounds)).first()
    files = [{
        "source_tiff": r["image_id"], "file_prefix": r["image_id"],
        "bounds_wgs84": {b: r[b] for b in bounds},
        "original_points": r["w"] * r["h"], "frontend_points": r["valid_pixels"],
        "has_valid_data": r["valid_pixels"] > 0,
        "available_formats": {"csv": True, "json": True, "geojson_wgs84": True, "readme": True},
    } for r in per_file]
    overall = {k: ob[b] for k, b in zip(("min_x", "max_x", "min_y", "max_y", "min_z", "max_z"), bounds)}
    return {"type": "elevation_catalog", "total_files": len(files),
            "coordinate_system": "EPSG:4326", "overall_bounds": overall, "files": files}


@pytest.fixture(scope="module")
def points_pdf(images_pdf):
    return oracle.extract_points(images_pdf, valid_only=True)


class TestZonal:
    def test_golden_delhi_matches_oracle(self, spark, points_sdf, points_pdf):
        got = zonal.zonal_stats(points_sdf, [synth.GOLDEN_DELHI_RING], "poly_0000").toPandas()
        want = oracle.zonal_stats(points_pdf, [synth.GOLDEN_DELHI_RING], "poly_0000")
        assert len(got) == len(want) and len(got) > 0
        got = got.sort_values(["image_id", "band"]).reset_index(drop=True)
        want = want.sort_values(["image_id", "band"]).reset_index(drop=True)
        assert got["image_id"].tolist() == want["image_id"].tolist()
        assert got["count"].tolist() == want["count"].tolist()
        np.testing.assert_array_equal(got["min"].to_numpy(), want["min"].to_numpy())
        np.testing.assert_array_equal(got["max"].to_numpy(), want["max"].to_numpy())
        np.testing.assert_allclose(got["mean"].to_numpy(), want["mean"].to_numpy(), rtol=1e-12)
        np.testing.assert_allclose(got["std_pop"].to_numpy(), want["std_pop"].to_numpy(), rtol=1e-9)

    def test_miss_everything_polygon_is_empty(self, spark, points_sdf):
        rings = [[[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0], [0.0, 0.0]]]
        got = zonal.zonal_stats(points_sdf, rings, "poly_0001")
        assert got.count() == 0
        resp = json.loads(zonal.stats_response(got, "slope_layer"))
        assert resp["min_max"]["band_1"] == "Null"  # sentinel contract

    def test_combine_stats_reference_quirk(self, spark):
        """E5: the reference's cross-file merge keeps the FIRST file's
        mean/std/count and only widens min/max (test2.py:162-179 — the
        merge branch touches nothing else) — reproduced faithfully."""
        rows = [
            {"min": 10.0, "max": 50.0, "mean": 30.0, "std_pop": 5.0, "count": 100},
            {"min": 5.0, "max": 70.0, "mean": 99.0, "std_pop": 9.0, "count": 50},
        ]
        out = zonal.combine_stats_reference_quirk(rows)
        assert out["min"] == 5.0 and out["max"] == 70.0
        assert out["mean"] == 30.0 and out["std_pop"] == 5.0  # first file kept
        assert out["count"] == 100  # first file's count kept, not summed

    def test_stats_response_contract(self, spark, points_sdf):
        got = zonal.zonal_stats(points_sdf, [synth.GOLDEN_DELHI_RING], "poly_0000")
        resp = json.loads(zonal.stats_response(got.limit(1), "slope_layer"))
        assert resp["status"] == "success"
        band = resp["min_max"]["band_1"]
        assert set(band) == {"min", "max", "mean", "std", "count", "data_type"}


class TestKnn:
    def test_knn_matches_exhaustive_oracle(self, spark, points_sdf, points_pdf):
        queries = synth.knn_queries(24)
        # restrict to queries near data (ring expansion bounded); far-away
        # probes are exercised for the 'exact' flag below
        near = queries[(queries.lon > 70) & (queries.lon < 90)].reset_index(drop=True)
        qdf = spark.createDataFrame(near)
        got = joins.knn_join(
            points_sdf.select("image_id", "pixel_idx", "longitude", "latitude"),
            qdf, k=1, level=12, max_ring=3,
        ).toPandas().set_index("query_id")
        # exhaustive numpy oracle (the reference JS min-distance reduce)
        P = points_pdf
        for _, q in near.iterrows():
            d2 = (P["longitude"].to_numpy() - q.lon) ** 2 + (P["latitude"].to_numpy() - q.lat) ** 2
            order = np.lexsort((P["pixel_idx"].to_numpy(), P["image_id"].to_numpy(), d2))
            best = order[0]
            if q.query_id in got.index:
                row = got.loc[q.query_id]
                if bool(np.atleast_1d(row["exact"])[0]):
                    assert np.atleast_1d(row["dist2"])[0] == pytest.approx(d2[best], rel=1e-12), q.query_id

    def test_far_query_flagged_inexact_or_absent(self, spark, points_sdf):
        import pandas as pd

        far = pd.DataFrame([{"query_id": "far_1", "lon": -120.0, "lat": 40.0, "k": 1}])
        got = joins.knn_join(
            points_sdf.select("image_id", "pixel_idx", "longitude", "latitude"),
            spark.createDataFrame(far), k=1, level=12, max_ring=2,
        ).toPandas()
        assert len(got) == 0 or not got["exact"].any()

    def test_multi_band_ties_rank_in_band_order(self, spark):
        """A 3-band pixel's rows share one distance; with k=3 they rank
        by band, whatever order the rows arrive in."""
        rows = [(0, 5, b, 77.2, 28.3) for b in (2, 1, 0)] + [(0, 6, 0, 77.3, 28.4)]
        pts = spark.createDataFrame(
            rows, "image_id long, pixel_idx long, band int, longitude double, latitude double")
        qs = spark.createDataFrame([("q1", 77.2001, 28.3001)], "query_id string, lon double, lat double")
        got = joins.knn_join(pts, qs, k=3).toPandas().sort_values("knn_rank")
        assert got["knn_rank"].tolist() == [1, 2, 3]
        assert got["band"].tolist() == [0, 1, 2]
        assert (got["pixel_idx"] == 5).all()

    def test_bad_k_or_ring_raises(self, spark):
        """``k < 1`` would return nothing, and a negative ``max_ring``
        would probe a wrong square: both raise before any job runs."""
        pts = spark.createDataFrame([(5, 77.2, 28.3)], "pixel_idx long, longitude double, latitude double")
        qs = spark.createDataFrame([("q1", 77.2, 28.3)], "query_id string, lon double, lat double")
        for kw, match in (({"k": 0}, "k must be"), ({"k": -1}, "k must be"),
                          ({"max_ring": -1}, "max_ring must be")):
            with pytest.raises(ValueError, match=match):
                joins.knn_join(pts, qs, **kw)
        assert len(joins.knn_join(pts, qs, k=1, max_ring=0).collect()) == 1

    def test_null_query_coordinates_return_no_rows(self, spark, points_sdf):
        """A query with a null lon or lat gets no rows, even with points
        on the grid's edge (where a null coordinate's tile would land);
        the other queries' rows are those of the same call without it."""
        import pandas as pd

        near = synth.knn_queries(16)
        near = near[(near.lon > 70) & (near.lon < 90)][["query_id", "lon", "lat"]]
        nulls = pd.DataFrame([{"query_id": "null_lon", "lon": None, "lat": 28.3},
                              {"query_id": "null_lat", "lon": 77.2, "lat": None}])
        schema = "query_id string, lon double, lat double"
        edge = spark.createDataFrame(
            [("edge", 0, 0, -180.0, 28.3), ("edge", 1, 0, 77.2, 90.0)],
            "image_id string, pixel_idx long, band int, longitude double, latitude double")
        pts = points_sdf.select("image_id", "pixel_idx", "band", "longitude", "latitude").unionByName(edge)

        def run(qpdf):
            out = joins.knn_join(pts, spark.createDataFrame(qpdf, schema), k=2).toPandas()
            return out.sort_values(["query_id", "knn_rank"]).reset_index(drop=True)

        base = run(near)
        with_nulls = run(pd.concat([near, nulls], ignore_index=True))
        assert len(base) > 0
        assert not with_nulls["query_id"].isin(["null_lon", "null_lat"]).any()
        pd.testing.assert_frame_equal(with_nulls, base)


class TestTiling:
    def test_column_twin_equals_numpy(self, spark, points_sdf, points_pdf):
        from pyspark.sql import functions as F

        got = (
            points_sdf.withColumn("cell_id", cells.cell_id_col(F.col("longitude"), F.col("latitude"), 12))
            .withColumn("tile_id", cells.tile_id_col(F.col("longitude"), F.col("latitude"), 12))
            .select("image_id", "pixel_idx", "band", "cell_id", "tile_id")
            .toPandas()
            .sort_values(["image_id", "band", "pixel_idx"])
            .reset_index(drop=True)
        )
        P = points_pdf.sort_values(["image_id", "band", "pixel_idx"]).reset_index(drop=True)
        want_cell = cells.cell_id(P["longitude"].to_numpy(), P["latitude"].to_numpy(), 12)
        tx, ty = cells.tile_xy(P["longitude"].to_numpy(), P["latitude"].to_numpy(), 12)
        assert np.array_equal(got["cell_id"].to_numpy(), want_cell)
        assert np.array_equal(got["tile_id"].to_numpy(), tx * (1 << 12) + ty)

    def test_salted_repartition_preserves_rows(self, spark, points_sdf):
        tiled = tiling.assign_tiles(points_sdf, 12)
        before = tiled.count()
        after_df = tiling.salted_repartition(tiled, "cell_id", salt_buckets=4, num_partitions=8)
        assert after_df.count() == before
        assert after_df.columns == tiled.columns

    def test_tile_pyramid_child_merge_equals_direct(self, spark, points_sdf):
        """The pyramid rolls each level up from its children (4->1);
        recomputing every level directly from the points must give the
        identical multiset — the floor/shift derivation is exact."""
        from pyspark.sql import functions as F

        pts = points_sdf.withColumn(
            "zc", F.floor(F.col("elevation") * 100.0).cast("long"))
        pyr = tiling.tile_pyramid(pts, "zc", finest=12, coarsest=8)
        got = {tuple(r) for r in pyr.collect()}
        want = set()
        for lv in range(8, 13):
            direct = (
                pts.select(
                    cells.tile_x_col(F.col("longitude"), lv).alias("tile_x"),
                    cells.tile_y_col(F.col("latitude"), lv).alias("tile_y"),
                    "zc")
                .groupBy("tile_x", "tile_y")
                .agg(F.count("*").alias("n_points"),
                     F.sum("zc").alias("sum_v"),
                     F.min("zc").alias("min_v"), F.max("zc").alias("max_v"))
            )
            want |= {(lv, r["tile_x"], r["tile_y"], r["n_points"],
                      r["sum_v"], r["min_v"], r["max_v"])
                     for r in direct.collect()}
        assert got == want
        # coarser levels can never have more occupied tiles than finer
        per_level = {lv: sum(1 for t in got if t[0] == lv)
                     for lv in range(8, 13)}
        for lv in range(9, 13):
            assert per_level[lv - 1] <= per_level[lv]
        with pytest.raises(ValueError, match="level range"):
            tiling.tile_pyramid(pts, "zc", finest=4, coarsest=8)

    def test_tile_pyramid_hll_distinct_merges_across_levels(
            self, spark, points_sdf):
        """distinct_col adds a DataSketches HLL sketch that MERGES up
        the pyramid (exact distinct counts cannot) — every level's
        estimate must track the exact per-tile distinct image count."""
        from pyspark.sql import functions as F

        pts = points_sdf.withColumn(
            "zc", F.floor(F.col("elevation") * 100.0).cast("long"))
        pyr = tiling.tile_pyramid(pts, "zc", finest=12, coarsest=9,
                                  distinct_col="image_id")
        assert "hll" not in pyr.columns
        got = {(r["level"], r["tile_x"], r["tile_y"]): r["approx_distinct"]
               for r in pyr.collect()}
        assert got  # non-empty
        for lv in range(9, 13):
            exact = (
                pts.select(
                    cells.tile_x_col(F.col("longitude"), lv).alias("tx"),
                    cells.tile_y_col(F.col("latitude"), lv).alias("ty"),
                    "image_id")
                .groupBy("tx", "ty")
                .agg(F.countDistinct("image_id").alias("nd"))
            )
            for r in exact.collect():
                est = got[(lv, r["tx"], r["ty"])]
                assert abs(est - r["nd"]) <= max(1, 0.05 * r["nd"]), (
                    lv, r["tx"], r["ty"], est, r["nd"])

    def test_catalog_rollup_overall_equals_union_of_files(self, spark, points_sdf):
        roll = tiling.catalog_rollup(points_sdf).toPandas()
        overall = roll[roll["is_overall"]]
        per_file = roll[~roll["is_overall"]]
        assert len(overall) == 1
        o = overall.iloc[0]
        assert o["points"] == per_file["points"].sum()
        assert o["min_longitude"] == per_file["min_longitude"].min()
        assert o["max_latitude"] == per_file["max_latitude"].max()

    def test_catalog_rollup_partials_equal_row_path(self, spark, zonal_images):
        """Over a fresh extract frame the rollup folds the per-(image,
        tile) partials; its rows, the is_overall grand total included,
        equal the row path's over a cached copy of the same points, also
        when a repeated images row doubles one id's points."""
        from pyspark.sql import functions as F

        first = zonal_images.first()["image_id"]
        dup = zonal_images.unionByName(zonal_images.filter(F.col("image_id") == first))
        first_points = []
        for images in (zonal_images, dup):
            # every fold runs before the cached copy exists (a cached plan
            # also serves a fresh extract frame over the same images)
            fresh = extract.extract_points(images)
            assert extract.source_images(fresh) is images
            got = sorted(map(tuple, tiling.catalog_rollup(fresh).collect()), key=repr)
            cached = extract.extract_points(images).cache()
            try:
                assert extract.source_images(cached) is None
                want = sorted(map(tuple, tiling.catalog_rollup(cached).collect()), key=repr)
            finally:
                cached.unpersist()
            assert got == want
            assert sum(r[-1] for r in got) == 1  # one is_overall row
            first_points.append(next(r[1] for r in got if r[0] == first))
        assert first_points[1] == 2 * first_points[0] > 0


class TestCatalogResume:
    def test_kill_and_resume_no_duplicates(self, spark, points_sdf, tmp_path):
        root = str(tmp_path / "cat")
        df = tiling.assign_tiles(points_sdf, 12).withColumn(
            "part_key", (F_col("cell_id") % 4).cast("string")
        )
        cat = ParquetCatalog(spark, root)
        parts = sorted(r[0] for r in df.select("part_key").distinct().collect())
        # first run writes only half the partitions, then "dies"
        r1 = cat.run_partitioned_job(df, "part_key", "snap-001", parts=parts[:2])
        assert set(r1["written"]) == set(parts[:2])
        # resume writes the rest, skips completed
        r2 = cat.run_partitioned_job(df, "part_key", "snap-002", parts=parts)
        assert set(r2["skipped"]) == set(parts[:2])
        assert set(r2["written"]) == set(parts[2:])
        # re-run is a full no-op
        r3 = cat.run_partitioned_job(df, "part_key", "snap-003", parts=parts)
        assert not r3["written"]
        # no duplicates: total rows in catalog == source rows
        assert cat.read().count() == df.count()
        snaps = cat.snapshots()
        assert [s["snapshot_id"] for s in snaps] == ["snap-001", "snap-002", "snap-003"]

    def test_bool_partition_keys_write_all_rows(self, spark, tmp_path):
        # regression: Python str(True) = 'True' but Spark's cast renders
        # 'true'; the old string-rendered pending filter matched nothing,
        # wrote no files, yet recorded the partition complete (0 rows) —
        # silent data loss that resume never repaired
        root = str(tmp_path / "catbool")
        df = spark.range(100).withColumn("flag", (F_col("id") % 2 == 0))
        cat = ParquetCatalog(spark, root)
        r1 = cat.run_partitioned_job(df, "flag", "snap-b1")
        assert set(r1["written"]) == {"true", "false"}
        assert cat.read().count() == 100
        # resume skips both engine-rendered keys
        r2 = cat.run_partitioned_job(df, "flag", "snap-b2")
        assert not r2["written"]
        assert set(r2["skipped"]) == {"true", "false"}

    def test_noncanonical_string_partition_keys_roundtrip(self, spark, tmp_path):
        # regression: partition-directory type inference re-typed a string
        # partition column from its directory names ('00' came back as int
        # 0), so the verification read-back rendered '0' != '00' and the
        # data-loss guard raised forever even though every row was written.
        # The read-back now pins df's own schema.
        from pyspark.sql import functions as F

        root = str(tmp_path / "catnoncanon")
        df = spark.range(20).withColumn(
            "part_key", F.lpad((F.col("id") % 10).cast("string"), 2, "0")
        )
        cat = ParquetCatalog(spark, root)
        r1 = cat.run_partitioned_job(df, "part_key", "snap-n1")
        assert set(r1["written"]) == {f"{i:02d}" for i in range(10)}
        assert cat.read().count() == 20
        # the PUBLIC read must also keep the original string keys: without
        # the pinned _schema.json, inference re-types '00'..'09' to int
        # 0..9 and distinct partitions become indistinguishable
        got_keys = {r["part_key"] for r in cat.read().select("part_key").distinct().collect()}
        assert got_keys == {f"{i:02d}" for i in range(10)}
        r2 = cat.run_partitioned_job(df, "part_key", "snap-n2")
        assert not r2["written"] and len(r2["skipped"]) == 10

    def test_empty_requested_partition_records_zero_rows(self, spark, tmp_path):
        root = str(tmp_path / "catempty")
        df = spark.range(10).withColumn("part_key", (F_col("id") % 2).cast("string"))
        cat = ParquetCatalog(spark, root)
        r1 = cat.run_partitioned_job(df, "part_key", "snap-e1", parts=["0", "1", "9"])
        assert set(r1["written"]) == {"0", "1", "9"}
        done = cat.completed_parts()
        assert "9" in done  # legitimately-empty partition has 0-row lineage
        assert cat.read().count() == 10


def F_col(name):
    from pyspark.sql import functions as F

    return F.col(name)


class TestStreaming:
    def test_available_now_incremental_matches_batch(self, spark, tmp_path):
        images_path = str(tmp_path / "images")
        out_path = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        synth.images_df(spark, "xs").write.parquet(images_path)
        q = incremental.incremental_extract(spark, images_path, out_path, ckpt)
        q.awaitTermination(300)
        got = spark.read.parquet(out_path)
        batch = extract.extract_points(spark.read.parquet(images_path), valid_only=True)
        assert got.count() == batch.count()
        # second run: checkpoint says nothing new -> no additional rows
        q2 = incremental.incremental_extract(spark, images_path, out_path, ckpt)
        q2.awaitTermination(300)
        assert spark.read.parquet(out_path).count() == batch.count()

    def test_windowed_event_counts(self, spark):
        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        out = incremental.windowed_event_counts(ev).toPandas()
        assert out["n"].sum() == ev.count()

    def test_stateful_sessionization(self, spark, tmp_path):
        """applyInPandasWithState gap sessionizer: session event counts
        must cover every event exactly once (closed + running)."""
        import shutil

        ev_dir = tmp_path / "events"
        ev_dir.mkdir()
        shutil.copy("/root/testdata/sf0.001/events.parquet", ev_dir / "events.parquet")
        ev_path = "/root/testdata/sf0.001/events.parquet"
        out = str(tmp_path / "sessions")
        q = incremental.sessionize_stateful(
            spark, str(ev_dir), out, str(tmp_path / "ck"), gap_seconds=1800
        )
        q.awaitTermination(300)
        got = spark.read.parquet(out).toPandas()
        ev = spark.read.parquet(ev_path).toPandas()
        assert set(got["user_id"]) == set(ev["user_id"])
        # every event lands in exactly one session (closed or final running)
        assert got["n_events"].sum() == len(ev)
        # sessions respect the gap: recompute via pandas oracle for one user
        import pandas as pd

        u = int(ev["user_id"].iloc[0])
        ts = ev[ev.user_id == u].sort_values("ts")["ts"]
        gaps = (ts.diff() > pd.Timedelta(seconds=1800)).sum()
        assert len(got[got.user_id == u]) == gaps + 1


class TestFusedOperators:
    def test_tile_partials_equal_row_path(self, spark, points_sdf):
        """tiles(), catalog() and analyze() aggregate inside the extract
        pass; each equals its per-point form on images with several
        bands, NoData pixels and all-NoData files."""
        import pandas as pd

        from tiff_to_geojson_csv_json_format_converter_spark.api import Converter

        images = synth.images_df(spark, "xs")
        conv = Converter(spark, images)
        key = lambda df: sorted(map(tuple, df.collect()))
        assert key(conv.tiles()) == key(tiling.tile_histogram(points_sdf, 12))
        assert conv.catalog() == sinks.master_catalog(points_sdf, images)
        got = conv.analyze().toPandas().set_index("image_id").sort_index()
        want = extract.analyze_images(points_sdf).toPandas().set_index("image_id")
        want = want.reindex(got.index).fillna({"valid_pixels": 0})
        pd.testing.assert_frame_equal(got[want.columns], want, check_dtype=False)
        assert (got["valid_pixels"] == 0).any() and (got["valid_pixels"] > 0).any()
        assert images.filter("band_count > 1").count() > 0

    def test_partials_duplicate_image_row(self, spark):
        """A repeated image row doubles its points but not n_images —
        countDistinct over the partial rows, as over the points."""
        from pyspark.sql import functions as F

        from tiff_to_geojson_csv_json_format_converter_spark.api import Converter

        images = synth.images_df(spark, "xs")
        first = extract.extract_points(images).select(F.min("image_id")).first()[0]
        dup = images.unionByName(images.filter(F.col("image_id") == first))
        got = sorted(map(tuple, Converter(spark, dup).tiles().collect()))
        want = sorted(map(tuple, tiling.tile_histogram(extract.extract_points(dup), 12).collect()))
        assert got == want
        base = dict((t, n) for t, n, _ in Converter(spark, images).tiles().collect())
        assert sum(n for _, n, _ in got) > sum(base.values())

    def test_fold_by_key_follows_spark_groupby_count(self, spark):
        """The in-worker fold's keys and counts agree with Spark's
        groupBy count, on keys that recur out of order."""
        from pyspark.sql import functions as F

        key = np.array([3, 1, 3, 1, 2, 2, 4, 4], dtype=np.int64)
        keys, n = extract.fold_by_key(key)
        want = (
            spark.createDataFrame([(int(k),) for k in key], "k long")
            .groupBy("k").agg(F.count("*").alias("n"))
            .orderBy("k").toPandas()
        )
        assert keys.tolist() == want["k"].tolist() and n.tolist() == want["n"].tolist()

    def test_partials_plan_ships_no_points(self, spark, monkeypatch):
        """The one Python node under tiles() emits the per-(image, tile)
        partials, the one under catalog() the per-images-row summaries:
        no points."""
        from tests.test_plans import arrow_outputs
        from tiff_to_geojson_csv_json_format_converter_spark.api import Converter

        names = lambda schema: [f.split()[0] for f in schema.split(", ")]
        conv = Converter(spark, synth.images_df(spark, "xs").localCheckpoint())
        seen = []
        real = sinks.catalog_document
        monkeypatch.setattr(sinks, "catalog_document",
                            lambda summaries: seen.append(summaries) or real(summaries))
        conv.catalog()
        assert len(seen) == 1
        assert arrow_outputs(conv.tiles()) == [names(extract.PARTIALS_SCHEMA)]
        assert arrow_outputs(seen[0]) == [names(extract.SUMMARY_SCHEMA)]

    @pytest.mark.parametrize("case", ["xs", "duplicate_image_row", "null_image_id", "code_point_order"])
    def test_catalog_document_equals_spark_join(self, spark, case):
        """Converter.catalog() (one collect of the summaries, merged and
        sorted on the driver) gives the document the Spark LEFT join +
        orderBy of the points' per-image aggregate gives
        (_catalog_reference): all-NoData files, a repeated images row, a
        NULL image_id (matches nothing, sorts first) and ids whose
        code-point order is not their case-folded order."""
        from pyspark.sql import functions as F

        from tiff_to_geojson_csv_json_format_converter_spark.api import Converter

        images = synth.images_df(spark, "xs")
        ids = [r["image_id"] for r in images.select("image_id").orderBy("image_id").collect()]
        if case == "duplicate_image_row":
            images = images.unionByName(images.filter(F.col("image_id") == ids[1]))
        elif case == "null_image_id":
            images = images.withColumn("image_id", F.when(
                F.col("image_id") != ids[1], F.col("image_id")).cast("string"))
        elif case == "code_point_order":
            names = {ids[0]: "img_a", ids[1]: "img_\u00e9", ids[2]: "img_B"}
            images = images.replace(names, subset=["image_id"])
        per_image = extract.analyze_images(extract.extract_points(images))
        got = Converter(spark, images).catalog()
        assert got == _catalog_reference(per_image, images)
        sources = [f["source_tiff"] for f in got["files"]]
        if case == "duplicate_image_row":
            assert sources.count(ids[1]) == 2 and got["files"][1] == got["files"][2]
        elif case == "null_image_id":
            assert sources[0] is None and got["files"][0]["frontend_points"] == 0
            assert per_image.filter(F.col("image_id").isNull()).count() == 1
        elif case == "code_point_order":
            assert sources[-3:] == ["img_B", "img_a", "img_\u00e9"]
        assert {f["has_valid_data"] for f in got["files"]} == {True, False}

    def test_overall_bounds_follow_spark_order_with_nan(self, spark):
        """An image whose transform makes some longitudes NaN sorts last:
        the catalog's overall_bounds equal catalog_rollup's is_overall row
        over the points (Spark's min/max), where Python's max(x, nan)
        drops the NaN that max(nan, x) keeps."""
        from pyspark.sql import functions as F

        from tiff_to_geojson_csv_json_format_converter_spark.api import Converter

        images = synth.images_df(spark, "xs")
        last = extract.extract_points(images).agg(F.max("image_id")).first()[0]
        # x = c + a*(col+.5) + b*(row+.5) is inf - inf = NaN from the third
        # column and row on, +-inf or 0 before them
        bad = F.array(*(F.lit(v) for v in (1e308, -1e308, 0.0, 0.0, -0.002, 28.5)))
        hit = F.col("image_id") == last
        images = images.withColumns({
            "transform": F.when(hit, bad).otherwise(F.col("transform")),
            "crs": F.when(hit, F.lit("EPSG:4326")).otherwise(F.col("crs")),
        }).localCheckpoint()
        got = Converter(spark, images).catalog()["overall_bounds"]
        cached = extract.extract_points(images).cache()
        try:
            o = next(r for r in tiling.catalog_rollup(cached).collect() if r["is_overall"])
        finally:
            cached.unpersist()
        want = {k: o[f"{k[:3]}_{c}"] for k, c in (
            ("min_x", "longitude"), ("max_x", "longitude"), ("min_y", "latitude"),
            ("max_y", "latitude"), ("min_z", "elevation"), ("max_z", "elevation"))}
        assert np.isnan(want["max_x"]) and want["min_x"] == -np.inf
        assert json.dumps(got) == json.dumps(want)

    def test_merge_summaries_follows_spark_groupby(self, spark):
        """The driver-side merge of repeated ids' summary rows equals
        Spark's groupBy().agg(sum, min, max) over the same rows: NaN, +-inf,
        an all-NaN bound, a zero-point row's NULL bounds and a NULL id."""
        from pyspark.sql import functions as F

        nan, inf = float("nan"), float("inf")
        bounds = lambda *v: list(v) + [1.0, 2.0, 3.0, 4.0]
        rows = [
            ("a", 4, 4, 3, *bounds(nan, 5.0)), ("a", 4, 4, 2, *bounds(1.0, nan)),
            ("a", 4, 4, 1, *bounds(-inf, inf)),
            ("b", 4, 4, 2, *bounds(nan, nan)), ("b", 4, 4, 0, *[None] * 6),
            ("b", 4, 4, 1, *bounds(nan, nan)),
            ("c", 4, 4, 0, *[None] * 6), ("c", 4, 4, 5, nan, 7.0, -inf, nan, 0.0, -0.5),
            ("d", 4, 4, 2, 2.0, 3.0, nan, inf, -inf, nan),
            ("d", 4, 4, 1, nan, -inf, 9.0, -1.0, 8.0, nan),
            (None, 4, 4, 6, *bounds(0.0, 1.0)),
        ]
        df = spark.createDataFrame(rows, extract.SUMMARY_SCHEMA)
        got = sinks.merge_summaries(df.collect())
        cols = [f.split()[0] for f in extract.SUMMARY_SCHEMA.split(", ")][4:]
        want = {r["image_id"]: r.asDict() for r in df.groupBy("image_id").agg(
            F.sum("n").alias("n"), *(getattr(F, c[:3])(c).alias(c) for c in cols)).collect()}
        assert want.pop(None)["n"] == 6 and None not in got
        assert json.dumps(got, sort_keys=True) == json.dumps(
            {k: {c: v[c] for c in ["n"] + cols} for k, v in want.items()}, sort_keys=True)
        # and whatever the row order
        assert json.dumps(sinks.merge_summaries(df.collect()[::-1]), sort_keys=True) == json.dumps(
            got, sort_keys=True)

    @pytest.mark.parametrize("case", sorted(_ZONAL_POLYGONS) + ["duplicate_image_row"])
    def test_zonal_in_extract_equals_row_path(self, spark, zonal_images, case):
        """zonal_stats over an untouched extract frame folds inside the
        extract pass; over a cached copy it takes the row path. Both give
        the same keys, counts and extremes, and mean and std_pop to
        summation order."""
        from pyspark.sql import functions as F

        images, rings = zonal_images, _ZONAL_POLYGONS.get(case, [synth.GOLDEN_DELHI_RING])
        if case == "duplicate_image_row":  # another image's pixels under img_00000001
            images = images.unionByName(images.filter(F.col("image_id") == "img_00000002")
                                        .withColumn("image_id", F.lit("img_00000001")))
        pts = extract.extract_points(images, valid_only=True)
        assert extract.source_images(pts) is images
        fast_df = zonal.zonal_stats(pts, rings, "p")
        fast = fast_df.toPandas()
        cached = extract.extract_points(images, valid_only=True).cache()
        try:
            assert extract.source_images(cached) is None
            # a fresh frame whose plan is now cached reads the cache too
            assert extract.source_images(extract.extract_points(images, valid_only=True)) is None
            row_df = zonal.zonal_stats(cached, rings, "p")
            row = row_df.toPandas()
            responses = [json.loads(zonal.stats_response(d, "l")) for d in (fast_df, row_df)]
        finally:
            cached.unpersist()
        fast, row = (d.sort_values(["image_id", "band"]).reset_index(drop=True) for d in (fast, row))
        assert list(fast.columns) == list(row.columns)
        for c in ("polygon_id", "image_id", "band", "count", "min", "max"):
            assert fast[c].tolist() == row[c].tolist(), c
        for c in ("mean", "std_pop"):
            np.testing.assert_allclose(fast[c].to_numpy(), row[c].to_numpy(), rtol=1e-12, atol=0)
        if case == "miss":
            assert len(fast) == 0
            assert [r["min_max"] for r in responses] == [{"band_1": "Null"}] * 2
            return
        assert len(fast) > 0
        if case == "multipolygon":  # each shell lies over its own image
            assert {"img_00000003", "img_00000028"} <= set(fast["image_id"])
        if case == "duplicate_image_row":  # the key merges two partial rows
            base = zonal.zonal_stats(extract.extract_points(zonal_images), rings).toPandas()
            n = lambda d, i: d.loc[d["image_id"] == f"img_0000000{i}", "count"].sum()
            assert n(fast, 1) == n(base, 1) + n(base, 2) and n(base, 1) > 0 and n(base, 2) > 0


    @pytest.mark.parametrize("consumer", ["summaries", "partials", "zonal"])
    def test_fold_rows_do_not_depend_on_batch_cap(self, spark, zonal_images, monkeypatch, consumer):
        """Every consumer of the extract driver flushes its rows at the
        one batch cap (extract._BATCH_ROWS, read when the plan is built)
        and at the end: at a 3-row cap, which splits an image's rows
        across batches and packs several images into one, each aggregate
        gives the rows it gives at the default cap, on images with
        all-NoData files, a NULL image_id and a repeated images row."""
        from pyspark.sql import functions as F

        ids = [r["image_id"] for r in zonal_images.select("image_id").orderBy("image_id").collect()]
        images = zonal_images.unionByName(zonal_images.filter(F.col("image_id") == ids[1])).withColumn(
            "image_id", F.when(F.col("image_id") != ids[2], F.col("image_id")).cast("string"))
        frame = {
            "summaries": lambda: extract.extract_summaries(images),
            "partials": lambda: extract.extract_partials(images, 12),
            "zonal": lambda: zonal.zonal_stats(
                extract.extract_points(images), [synth.GOLDEN_DELHI_RING], "p"),
        }[consumer]
        rows = lambda: sorted(map(tuple, frame().collect()), key=repr)
        want = rows()
        monkeypatch.setattr(extract, "_BATCH_ROWS", 3)
        got = rows()
        assert got == want
        assert len(want) > 3 and None in {r[1 if consumer == "zonal" else 0] for r in want}
        if consumer == "summaries":
            assert sum(r[0] == ids[1] for r in want) == 2 and any(r[3] == 0 for r in want)


def _reference_feature_collection(source_file, total_original_points, rows) -> str:
    """The reference's FeatureCollection (completePixleOutput.py:108-128)
    of points ``rows``: json.dumps(separators=(',',':')) of its dict."""
    return json.dumps({
        "type": "FeatureCollection",
        "crs": {"type": "name", "properties": {"name": "urn:ogc:def:crs:OGC:1.3:CRS84"}},
        "metadata": {
            "source_file": source_file,
            "total_original_points": total_original_points,
            "geojson_points": len(rows),
            "note": "Coordinates in WGS84 (longitude, latitude, elevation)",
        },
        "features": [
            {"type": "Feature",
             "geometry": {"type": "Point",
                          "coordinates": [r["longitude"], r["latitude"], r["elevation"]]}}
            for r in rows
        ],
    }, separators=(",", ":"))


@pytest.fixture(scope="module")
def xs_converted(spark, tmp_path_factory):
    """The xs images run once through convert(mode="valid"):
    (output directory, images frame, convert's result)."""
    from tiff_to_geojson_csv_json_format_converter_spark.api import Converter

    images = synth.images_df(spark, "xs")
    out = str(tmp_path_factory.mktemp("xs_converted") / "out")
    return out, images, Converter(spark, images).convert(out, mode="valid")


class TestSinks:
    def test_geojson_feature_matches_reference_json(self, spark, points_sdf):
        """Feature strings must byte-equal the reference's
        json.dump(separators=(',',':')) of the rounded floats
        (completePixleOutput.py:99-128)."""
        sample = points_sdf.filter("band = 0").limit(200)
        got = [r[0] for r in sample.select(sinks.geojson_feature_col()).collect()]
        rows = sample.collect()
        for feat, r in zip(got, rows):
            want = json.dumps(
                {"type": "Feature",
                 "geometry": {"type": "Point",
                              "coordinates": [r["longitude"], r["latitude"], r["elevation"]]}},
                separators=(",", ":"),
            )
            assert feat == want, (feat, want)

    def test_feature_collection_envelope(self, spark, points_sdf, xs_converted):
        """Each GeoJSON file convert writes is the reference envelope
        (completePixleOutput.py:108-128) byte for byte, features in pixel
        order."""
        out, images, _ = xs_converted
        pts = points_sdf.filter("band = 0")
        ids = {r["image_id"] for r in pts.select("image_id").distinct().collect()}
        totals = {r["image_id"]: r["w"] * r["h"]
                  for r in images.select("image_id", "w", "h").collect()}
        for image_id in sorted(ids)[:3]:
            rows = sorted(pts.filter(pts["image_id"] == image_id).collect(),
                          key=lambda r: r["pixel_idx"])
            with open(os.path.join(out, f"{image_id}_wgs84.geojson")) as f:
                assert f.read() == _reference_feature_collection(
                    image_id, totals[image_id], rows)

    def test_write_geojson_per_image(self, spark, points_sdf, xs_converted):
        """Convert writes one GeoJSON file per image with valid points,
        named <image_id>_wgs84.geojson, each counting its own features."""
        out, _, res = xs_converted
        pts = points_sdf.filter("band = 0")
        ids = {r["image_id"] for r in pts.select("image_id").distinct().collect()}
        assert ids
        assert sorted(res["geojson_files"]) == sorted(
            os.path.join(out, f"{i}_wgs84.geojson") for i in ids)
        for path in res["geojson_files"]:
            with open(path) as f:
                doc = json.load(f)
            assert doc["type"] == "FeatureCollection"
            assert doc["metadata"]["geojson_points"] == len(doc["features"]) > 0

    def test_struct_of_arrays_json(self, spark, points_sdf):
        doc = json.loads(sinks.json_struct_of_arrays(points_sdf.limit(10), {"source_file": "x"}))
        assert set(doc["data"]) == {"longitude", "latitude", "elevation"}
        assert len(doc["data"]["longitude"]) == 10

    def test_struct_of_arrays_envelope_parity(self, spark, points_sdf):
        """Byte parity with the reference envelope (doesSamples.py:106-137):
        same metadata fields, same bounds over the SAMPLED points, arrays
        in deterministic pixel order, json.dumps(separators=(',',':'))."""
        img = points_sdf.filter("band = 0").select("image_id").first()["image_id"]
        pts = points_sdf.filter(points_sdf["image_id"] == img).filter("band = 0")
        # shuffle partitions on purpose: order must come from order_col
        got = sinks.json_struct_of_arrays(
            pts.repartition(7),
            {},
            source_file=f"{img}.tif",
            original_crs="EPSG:32643",
            original_dimensions=(32, 32),
            original_total_points=1024,
            sample_rate=1,
            nodata_value=None,
            order_col="pixel_idx",
        )
        rows = sorted(pts.collect(), key=lambda r: r["pixel_idx"])
        lon = np.array([r["longitude"] for r in rows])
        lat = np.array([r["latitude"] for r in rows])
        z = np.array([r["elevation"] for r in rows])
        want = json.dumps({
            "metadata": {
                "source_file": f"{img}.tif",
                "original_crs": "EPSG:32643",
                "output_crs": "EPSG:4326",
                "coordinate_system": "WGS84 (longitude, latitude)",
                "original_dimensions": [32, 32],
                "original_total_points": 1024,
                "frontend_points": len(rows),
                "sample_rate": 1,
                "nodata_value": None,
                "bounds": {
                    "min_longitude": float(lon.min()), "max_longitude": float(lon.max()),
                    "min_latitude": float(lat.min()), "max_latitude": float(lat.max()),
                    "min_elevation": float(z.min()), "max_elevation": float(z.max()),
                },
            },
            "data": {"longitude": lon.tolist(), "latitude": lat.tolist(),
                     "elevation": z.tolist()},
        }, separators=(",", ":"))
        assert got == want

    def test_distributed_geojson_docs_match_driver_assembly(self, spark, points_sdf):
        """The executor-side FeatureCollection builder must byte-equal
        json.dumps of the reference envelope for every image, whatever
        the partitioning of its input."""
        images = synth.images_df(spark, "xs")
        pts = points_sdf.filter("band = 0")
        docs = {r["image_id"]: r["doc"]
                for r in sinks.geojson_collection_docs(pts.repartition(5), images).collect()}
        totals = {r["image_id"]: r["w"] * r["h"]
                  for r in images.select("image_id", "w", "h").collect()}
        assert docs
        for image_id, doc in list(docs.items())[:3]:
            rows = sorted(pts.filter(pts["image_id"] == image_id).collect(),
                          key=lambda r: r["pixel_idx"])
            assert doc == _reference_feature_collection(image_id, totals[image_id], rows)

    def test_geojson_docs_escape_image_id(self, spark, points_sdf, tmp_path):
        """An id holding JSON's special characters stays valid JSON, in
        the builder's documents and in the file convert writes."""
        from pyspark.sql import functions as F

        from tiff_to_geojson_csv_json_format_converter_spark.api import Converter

        odd = 'a"b\\c'
        first = points_sdf.filter("band = 0").select("image_id").first()["image_id"]
        rename = F.when(F.col("image_id") == first, F.lit(odd)).otherwise(F.col("image_id"))
        images = synth.images_df(spark, "xs").withColumn("image_id", rename)
        pts = points_sdf.filter("band = 0").withColumn("image_id", rename)
        docs = {r["image_id"]: r["doc"]
                for r in sinks.geojson_collection_docs(pts, images).collect()}
        assert json.loads(docs[odd])["metadata"]["source_file"] == odd
        res = Converter(spark, images.filter(F.col("image_id") == odd)).convert(
            str(tmp_path / "out"), mode="valid")
        assert len(res["geojson_files"]) == 1
        with open(res["geojson_files"][0]) as f:
            assert json.load(f)["metadata"]["source_file"] == odd

    def test_master_catalog(self, spark, points_sdf):
        images = synth.images_df(spark, "xs")
        cat = sinks.master_catalog(points_sdf, images)
        assert cat["type"] == "elevation_catalog"
        assert cat["total_files"] == len(cat["files"])
        # every source image is enumerated — all-NoData files included,
        # flagged has_valid_data=False with null bounds (doesSamples
        # catalogs every file)
        assert cat["total_files"] == images.count()
        empties = [f for f in cat["files"] if not f["has_valid_data"]]
        assert empties and all(f["frontend_points"] == 0 for f in empties)
        valid = [f for f in cat["files"] if f["has_valid_data"]]
        lo = min(f["bounds_wgs84"]["min_longitude"] for f in valid)
        assert cat["overall_bounds"]["min_x"] == lo


def test_stateful_sessions_cross_batch_continuity(spark, tmp_path):
    """Multi-batch streaming: state must carry a running session across
    batches (maxFilesPerTrigger=1 forces one file per micro-batch)."""
    import os
    import time as _time

    import pandas as pd

    from tiff_to_geojson_csv_json_format_converter_spark.streaming import incremental

    t0 = pd.Timestamp("2026-01-01 00:00:00")
    mk = lambda eid, ts, uid: (eid, ts.to_pydatetime(), uid, "click", 1.0, "{}")
    ev_dir = str(tmp_path / "events"); os.makedirs(ev_dir)
    cols = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    # file A: u1 two events 10 min apart; u2 one event
    spark.createDataFrame(
        [mk(1, t0, 1), mk(2, t0 + pd.Timedelta(seconds=600), 1), mk(3, t0, 2)], cols
    ).coalesce(1).write.parquet(f"{ev_dir}/a")
    # file B (newer mtime): u1 continues within gap; u2 returns after 2 h
    spark.createDataFrame(
        [mk(4, t0 + pd.Timedelta(seconds=1200), 1),
         mk(5, t0 + pd.Timedelta(seconds=7200), 2)], cols
    ).coalesce(1).write.parquet(f"{ev_dir}/b")
    now = _time.time()
    for sub, off in (("a", -60), ("b", 0)):
        for f in os.listdir(f"{ev_dir}/{sub}"):
            os.utime(f"{ev_dir}/{sub}/{f}", (now + off, now + off))
    q = incremental.sessionize_stateful(
        spark, f"{ev_dir}/*", str(tmp_path / "out"), str(tmp_path / "ck"),
        gap_seconds=1800, max_files_per_trigger=1,
    )
    q.awaitTermination(300)
    out = spark.read.parquet(str(tmp_path / "out")).toPandas()
    # u1's final snapshot merges events from BOTH batches into one session
    u1 = out[(out.user_id == 1) & (out.n_events == 3)]
    assert len(u1) == 1
    assert u1.iloc[0]["session_start"] == t0
    assert u1.iloc[0]["session_end"] == t0 + pd.Timedelta(seconds=1200)
    assert not u1.iloc[0]["closed"]
    # u2's first session closed by the >gap event in batch 2
    u2closed = out[(out.user_id == 2) & out.closed]
    assert len(u2closed) == 1 and u2closed.iloc[0]["n_events"] == 1
