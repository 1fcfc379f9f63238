"""Feature-export sinks: GeoJSON / CSV / JSON with the reference's exact
float formatting, plus catalog and combined-file outputs.

Formatting contracts preserved:
- CSV rows ``longitude,latitude,elevation`` at %.6f
  (doesSamples.py:95-101); compressed variant x,y,z at %.2f
  (thiswillcompress.py:59-71)
- GeoJSON point features with [lon, lat, z] coordinates and NO
  properties (completePixleOutput.py:99-105), compact separators
  (completePixleOutput.py:127-128)
- struct-of-arrays JSON doc with metadata envelope
  (doesSamples.py:108-133)
- master catalog: per-file entries sorted by source, overall bounds
  fold (doesSamples.py:351-466)

String assembly happens in built-in expressions (format_string/concat —
JVM). The per-image GeoJSON documents are assembled executor-side
(:func:`geojson_collection_docs`); the catalog and struct-of-arrays
documents are assembled driver-side from aggregate query results (they
are O(files) or capped, not O(points)).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

COMPRESSED_FORMATS = ("csv", "npz", "json", "compact", "readme")


def write_compressed_outputs(images_df: DataFrame, out_dir: str,
                             formats: tuple = COMPRESSED_FORMATS) -> DataFrame:
    """A9: the reference's compressed sink family (thiswillcompress.py:
    55-160), one task per image writing to a shared filesystem:

    - ``<id>.csv.gz``      x,y,z at %.2f, gzip (to_csv float_format='%.2f')
    - ``<id>.npz``         np.savez_compressed(x, y, z, metadata)
    - ``<id>.json.gz``     {'meta': {...}, 'x': [...], 'y': [...], 'z': [...]}
                           compact separators, gzip (lines 93-115)
    - ``<id>.compact.gz``  {'meta': {...}, 'elevation_grid': HxW} (119-137)
    - ``<id>.readme.txt``  the instructions file (146-159)

    Fidelity quirks preserved: x/y are NATIVE-CRS coords (never
    reprojected in this script), downcast to float32 THEN rounded to 2
    decimals; z likewise; ALL pixels are written (no NoData filter);
    JSON renders the float32 values via Python double repr. NoData
    pixels inherit a reference artifact: np.round(float32, 2) of the
    -3.4e38 sentinel overflows to -inf, which json.dumps emits as
    ``-Infinity`` — NOT RFC-8259 JSON (JSON.parse rejects it). The
    reference behaves identically on sentinel-bearing rasters; filter
    NoData upstream (extract_points valid_only) for consumable output.
    One deliberate deviation: gzip members are written with mtime=0 so
    the bytes are deterministic (the reference embeds wall-clock
    mtimes).

    Returns a manifest DataFrame (image_id, format, path, n_bytes,
    n_points) — the distributed analog of the reference's printed size
    report. Executors write files directly (object store/shared FS at
    scale); the manifest is the only data that returns to the driver.
    """
    import gzip
    import io
    import os

    import numpy as np
    import pandas as pd

    from ..functions import affine as _affine
    from ..sources import codecs as _codecs

    os.makedirs(out_dir, exist_ok=True)
    cols = ["image_id", "bytes", "w", "h", "fmt", "transform", "crs", "nodata"]

    def _gz(data: bytes) -> bytes:
        buf = io.BytesIO()
        with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as f:
            f.write(data)
        return buf.getvalue()

    def run(batches):
        for pdf in batches:
            out_rows = []
            for r in pdf.itertuples(index=False):
                grid = _codecs.decode(r.bytes, r.fmt, r.w, r.h).reshape(r.h, r.w)
                rows_flat, cols_flat = np.divmod(np.arange(r.h * r.w, dtype=np.int64), r.w)
                x, y = _affine.pixel_to_world(tuple(r.transform), rows_flat, cols_flat)
                xr = np.round(x.astype(np.float32), 2)
                yr = np.round(y.astype(np.float32), 2)
                zr = np.round(grid.reshape(-1).astype(np.float32), 2)
                n = len(xr)
                nodata = None if r.nodata is None or np.isnan(r.nodata) else float(r.nodata)
                written: list[tuple] = []

                def emit(fmt_name: str, fname: str, data: bytes):
                    p = os.path.join(out_dir, fname)
                    with open(p, "wb") as f:
                        f.write(data)
                    written.append((r.image_id, fmt_name, p, len(data), n))

                if "csv" in formats:
                    # vectorized formatter (pandas C path — the reference's
                    # own to_csv float_format='%.2f', thiswillcompress.py:59);
                    # byte-identical to the former per-row f-string loop
                    # (both render %.2f of the float64 widening), goldens in
                    # tests/test_sinks_compressed.py. Pinned explicitly:
                    # lineterminator (to_csv follows os.linesep on some
                    # pandas builds — would emit \r\n off-Linux) and na_rep
                    # ('nan', the f-string rendering of float('nan');
                    # to_csv's default is an empty field)
                    body = pd.DataFrame({"x": xr, "y": yr, "z": zr}).to_csv(
                        index=False, float_format="%.2f",
                        lineterminator="\n", na_rep="nan"
                    )
                    emit("csv", f"{r.image_id}.csv.gz", _gz(body.encode()))
                if "npz" in formats:
                    buf = io.BytesIO()
                    np.savez_compressed(
                        buf, x=xr, y=yr, z=zr,
                        metadata={
                            "source_file": r.image_id, "crs": r.crs,
                            "dimensions": [int(r.w), int(r.h)],
                            "nodata_value": nodata,
                        },
                    )
                    emit("npz", f"{r.image_id}.npz", buf.getvalue())
                if "json" in formats:
                    doc = {
                        "meta": {
                            "file": r.image_id, "crs": r.crs,
                            "dims": [int(r.w), int(r.h)],
                            "nodata": nodata, "count": n,
                        },
                        "x": xr.tolist(), "y": yr.tolist(), "z": zr.tolist(),
                    }
                    emit("json", f"{r.image_id}.json.gz",
                         _gz(json.dumps(doc, separators=(",", ":")).encode()))
                if "compact" in formats:
                    doc = {
                        "meta": {
                            "file": r.image_id, "crs": r.crs,
                            "width": int(r.w), "height": int(r.h),
                            "transform": [float(v) for v in r.transform],
                            "nodata": nodata,
                        },
                        "elevation_grid": zr.reshape(r.h, r.w).tolist(),
                    }
                    emit("compact", f"{r.image_id}.compact.gz",
                         _gz(json.dumps(doc, separators=(",", ":")).encode()))
                if "readme" in formats:
                    sizes = {fmt: nb for (_i, fmt, _p, nb, _n) in written}
                    mb = {k: v / 1_000_000 for k, v in sizes.items()}
                    txt = (
                        f"Elevation data for {r.image_id}\n"
                        f"Total points: {n:,}\n"
                        f"Coordinate system: {r.crs}\n\n"
                        "Available formats:\n"
                        f"1. {r.image_id}.csv.gz - Standard CSV (gzip compressed, {mb.get('csv', 0):.2f} MB)\n"
                        f"2. {r.image_id}.npz - Binary NumPy format ({mb.get('npz', 0):.2f} MB)\n"
                        f"3. {r.image_id}.json.gz - Compressed JSON ({mb.get('json', 0):.2f} MB)\n"
                        f"4. {r.image_id}.compact.gz - Ultra-compact grid format ({mb.get('compact', 0):.2f} MB)\n\n"
                        "Recommended for frontend: Use the compact format for smallest size\n"
                        "or NPZ format for fastest loading in Python.\n"
                    )
                    emit("readme", f"{r.image_id}.readme.txt", txt.encode())
                out_rows.extend(written)
            yield pd.DataFrame(
                out_rows, columns=["image_id", "format", "path", "n_bytes", "n_points"]
            )

    return images_df.select(*cols).mapInPandas(
        run, "image_id string, format string, path string, n_bytes long, n_points long"
    )


def geojson_feature_col(lon="longitude", lat="latitude", z="elevation"):
    """GeoJSON Feature string, byte-compatible with the reference's
    json.dump(separators=(',',':')) of the rounded values
    (completePixleOutput.py:99-128): lon/lat are 6-dp-rounded doubles,
    rendered %.6f then trailing-zero-trimmed (== repr of the rounded
    double); elevation is float(np.float32-rounded) — the reference
    prints its full double repr (e.g. 1001.52001953125), so it is cast
    to string (JVM shortest-roundtrip toString == Python repr here)."""
    return F.format_string(
        '{"type":"Feature","geometry":{"type":"Point","coordinates":[%s,%s,%s]}}',
        _trim_num(F.format_string("%.6f", F.col(lon))),
        _trim_num(F.format_string("%.6f", F.col(lat))),
        F.col(z).cast("string"),
    )


def _trim_num(s):
    """Trim trailing zeros (and a bare trailing dot) from fixed-format
    numbers: '77.100000' -> '77.1', '28.000000' -> '28.0' — matching
    Python repr of the np.round()ed values for 6/2-dp-rounded doubles."""
    trimmed = F.regexp_replace(s, "0+$", "")
    return F.when(trimmed.endswith("."), F.concat(trimmed, F.lit("0"))).otherwise(trimmed)


def write_csv_per_image(points: DataFrame, path: str, fmt: str = "%.6f") -> None:
    """Combined CSV with source lineage column (completePixleOutput.py:252-282
    created this by pd.concat; here it's just a partitioned write)."""
    (
        points.select(
            "image_id",
            F.format_string(fmt, "longitude").alias("longitude"),
            F.format_string(fmt, "latitude").alias("latitude"),
            F.format_string(fmt, "elevation").alias("elevation"),
        )
        .write.mode("overwrite")
        .partitionBy("image_id")
        .option("header", True)
        .csv(path)
    )


def geojson_collection_docs(points: DataFrame, images: DataFrame) -> DataFrame:
    """The per-image FeatureCollection (completePixleOutput.py:108-128):
    one ``(image_id, doc)`` row per image id with points, the document
    assembled executor-side, so the driver never touches a feature.

    ``doc`` is ``json.dumps(envelope, separators=(',',':'))`` of the
    reference envelope ``{type, crs, metadata{source_file,
    total_original_points, geojson_points, note}, features}`` (for a
    non-ASCII id Spark writes the raw UTF-8 where ``json.dumps`` writes
    ``\\u`` escapes). Features are ordered by ``pixel_idx``, so the
    document is a pure function of the data, not of the shuffle.
    ``total_original_points`` is ``w*h`` summed over the id's images
    rows: a repeated id gets one document holding every row's points.
    """
    per_img = points.groupBy("image_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(
                    F.col("pixel_idx").alias("_o"), geojson_feature_col().alias("_f")))),
                lambda s: s["_f"],
            ),
            ",",
        ).alias("_body"),
        F.count("*").alias("_n"),
    )
    totals = images.groupBy("image_id").agg(
        F.sum(F.col("w").cast("long") * F.col("h")).alias("_total"))
    # to_json escapes the id as JSON; the struct fixes the key order
    metadata = F.to_json(F.struct(
        F.col("image_id").alias("source_file"),
        F.col("_total").alias("total_original_points"),
        F.col("_n").alias("geojson_points"),
        F.lit("Coordinates in WGS84 (longitude, latitude, elevation)").alias("note"),
    ))
    return per_img.join(F.broadcast(totals), "image_id").select(
        "image_id",
        F.concat(
            F.lit('{"type":"FeatureCollection",'
                  '"crs":{"type":"name","properties":{"name":"urn:ogc:def:crs:OGC:1.3:CRS84"}},'
                  '"metadata":'),
            metadata, F.lit(',"features":['), F.col("_body"), F.lit("]}"),
        ).alias("doc"),
    )


def json_struct_of_arrays(
    points: DataFrame,
    metadata: dict,
    *,
    source_file: str | None = None,
    original_crs: str | None = None,
    original_dimensions: tuple[int, int] | None = None,
    original_total_points: int | None = None,
    sample_rate: int | None = None,
    nodata_value: float | None = None,
    order_col: str | None = None,
) -> str:
    """The doesSamples.py:106-137 JSON doc: full metadata envelope +
    parallel data arrays, computed in ONE distributed aggregate.

    Field-for-field parity with the reference envelope
    (doesSamples.py:108-126): source_file, original_crs,
    output_crs='EPSG:4326', coordinate_system, original_dimensions
    [width,height], original_total_points, frontend_points (= the
    sampled row count), sample_rate, nodata_value (None when the source
    declares none), and bounds min/max over longitude/latitude/elevation
    of the SAMPLED points (the reference computes bounds on lon_sampled
    etc., not the full raster). Extra ``metadata`` keys are merged in
    (caller-supplied values win, matching the dict-literal order).

    The arrays and every bound/count come back from a single
    collect_list+min/max/count aggregate — one job, one pass — so the
    sink is O(result) driver memory exactly like the reference's
    sampled-array JSON (bounded by the ≤100k sample cap upstream).
    """
    if order_col is not None:
        # deterministic row-major arrays: collect (ordinal, lon, lat, z)
        # structs, sort once on the driver-bound aggregate (struct order
        # = field order, ordinal first), then strip the ordinal. This
        # keeps the parallel arrays byte-stable across shuffles.
        triple = F.array_sort(
            F.collect_list(F.struct(
                F.col(order_col).alias("o"),
                F.col("longitude").alias("lon"),
                F.col("latitude").alias("lat"),
                F.col("elevation").alias("z"),
            ))
        )
        lon_agg = F.transform(triple, lambda s: s["lon"]).alias("lon")
        lat_agg = F.transform(triple, lambda s: s["lat"]).alias("lat")
        z_agg = F.transform(triple, lambda s: s["z"]).alias("z")
    else:
        lon_agg = F.collect_list("longitude").alias("lon")
        lat_agg = F.collect_list("latitude").alias("lat")
        z_agg = F.collect_list("elevation").alias("z")
    row = points.agg(
        lon_agg, lat_agg, z_agg,
        F.count("*").alias("n"),
        F.min("longitude").alias("min_lon"), F.max("longitude").alias("max_lon"),
        F.min("latitude").alias("min_lat"), F.max("latitude").alias("max_lat"),
        F.min("elevation").alias("min_z"), F.max("elevation").alias("max_z"),
    ).collect()[0]
    meta = {
        "source_file": source_file,
        "original_crs": original_crs,
        "output_crs": "EPSG:4326",
        "coordinate_system": "WGS84 (longitude, latitude)",
        "original_dimensions": list(original_dimensions) if original_dimensions else None,
        "original_total_points": original_total_points,
        "frontend_points": int(row["n"]),
        "sample_rate": sample_rate,
        "nodata_value": float(nodata_value) if nodata_value is not None else None,
        "bounds": {
            "min_longitude": float(row["min_lon"]) if row["n"] else None,
            "max_longitude": float(row["max_lon"]) if row["n"] else None,
            "min_latitude": float(row["min_lat"]) if row["n"] else None,
            "max_latitude": float(row["max_lat"]) if row["n"] else None,
            "min_elevation": float(row["min_z"]) if row["n"] else None,
            "max_elevation": float(row["max_z"]) if row["n"] else None,
        },
    }
    meta.update(metadata)
    doc = {
        "metadata": meta,
        "data": {"longitude": row["lon"], "latitude": row["lat"], "elevation": row["z"]},
    }
    return json.dumps(doc, separators=(",", ":"))


def master_catalog(points: DataFrame, images: DataFrame) -> dict:
    """The master catalog document (doesSamples.py:351-466) of a points
    table: per-file entries (sorted) + overall bounds.

    Over an untouched, uncached default ``extract.extract_points`` frame
    of ``images`` (``extract.source_images``, the rule ``zonal.zonal_stats``
    follows) it is :func:`catalog_document` of ``images``: one job, and no
    point leaves the Python workers. Any other frame aggregates its points
    per image, and the images' (id, w, h) rows are joined on the driver."""
    from . import extract

    if extract.source_images(points) is images:
        return catalog_document(extract.extract_summaries(images))
    per_image = extract.analyze_images(points).withColumnRenamed("valid_pixels", "n")
    aggs = {r["image_id"]: r.asDict() for r in per_image.collect()}
    return _catalog(images.select("image_id", "w", "h").collect(), aggs)


def catalog_document(summaries: DataFrame) -> dict:
    """:func:`master_catalog` from ``extract.extract_summaries`` rows, one
    per images row: a single ``collect()``, one Spark job with no shuffle.

    The rows of a repeated ``image_id`` are merged (:func:`merge_summaries`)
    and the entries sorted on the driver, as the reference's loop over
    the files does, with the semantics of a Spark LEFT join of the images
    to the per-image aggregate and an ``orderBy``: a NULL ``image_id``
    matches nothing and sorts first, ids sort in code-point order (Spark's
    UTF-8 byte order), and a repeated images row gets one entry each, all
    carrying its id's combined aggregate."""
    rows = summaries.collect()
    return _catalog(rows, merge_summaries(rows))


# per-file bound -> overall_bounds key
_OVERALL = (("min_longitude", "min_x"), ("max_longitude", "max_x"),
            ("min_latitude", "min_y"), ("max_latitude", "max_y"),
            ("min_elevation", "min_z"), ("max_elevation", "max_z"))


def _spark_fold(col: str, a, b):
    """``F.min`` (``col`` starts with ``min``) or ``F.max`` of two doubles
    in Spark's order, never Python's order-dependent ``min``/``max`` on
    NaN: None is no value, NaN sorts above every number, so ``min`` skips
    NaN unless both are NaN and ``max`` is NaN as soon as one is."""
    if a is None or b is None:
        return a if b is None else b
    if col.startswith("min"):
        return a if b != b or a <= b else b
    return a if a != a or (b == b and a >= b) else b


def merge_summaries(rows) -> dict:
    """``extract.extract_summaries`` rows combined per non-NULL
    ``image_id`` as Spark's ``groupBy("image_id").agg(sum("n"), min, max)``
    combines them: ``{image_id: {"n": ..., "min_longitude": ..., ...}}``."""
    out: dict = {}
    for r in rows:
        if r["image_id"] is None:
            continue
        a = out.get(r["image_id"])
        if a is None:
            out[r["image_id"]] = {"n": r["n"], **{c: r[c] for c, _ in _OVERALL}}
            continue
        a["n"] += r["n"]
        for c, _ in _OVERALL:
            a[c] = _spark_fold(c, a[c], r[c])
    return out


def _catalog(images_rows, aggs: dict) -> dict:
    """The catalog document of the images' (image_id, w, h) rows and their
    per-id aggregates ``aggs`` (``n`` and the bounds)."""
    # doesSamples.py:439 sort by source
    rows = sorted(images_rows, key=lambda r: (r["image_id"] is not None, r["image_id"] or ""))
    files = []
    ob = {dst: None for _, dst in _OVERALL}
    for r in rows:
        # LEFT join from the image catalog: all-NoData files contribute
        # zero points but the reference catalog enumerates every source
        # file (has_valid_data=false entries, doesSamples.py:351-466)
        a = aggs.get(r["image_id"], {}) if r["image_id"] is not None else {}
        n = a.get("n") or 0
        files.append({
            "source_tiff": r["image_id"], "file_prefix": r["image_id"],
            "bounds_wgs84": {src: a.get(src) for src, _ in _OVERALL},
            "original_points": r["w"] * r["h"], "frontend_points": n,
            "has_valid_data": n > 0,
            "available_formats": {"csv": True, "json": True, "geojson_wgs84": True, "readme": True},
        })
        for src, dst in _OVERALL:
            ob[dst] = _spark_fold(src, ob[dst], a.get(src))
    return {
        "type": "elevation_catalog",
        "total_files": len(files),
        "coordinate_system": "EPSG:4326",
        "overall_bounds": ob,
        "files": files,
    }


def fixed_point_col(col, digits: int = 6):
    """Engine-portable fixed-point rendering of a double column: half-up
    quantize to 10^digits, assemble '<sign><int>.<frac>' from integers.
    printf('%.Nf') is NOT portable (Java rounds the shortest-repr
    decimal HALF_UP, C rounds the exact binary value), so every driver
    oracle that renders a float goes through this integer path — the
    DuckDB twin is the same FLOOR(x*scale + 0.5) expression tree."""
    scale = 10 ** digits
    q = F.floor(F.col(col) * F.lit(float(scale)) + F.lit(0.5)).cast("long")
    absq = F.abs(q)
    return F.concat(
        F.when(q < 0, F.lit("-")).otherwise(F.lit("")),
        F.format_string(
            f"%d.%0{digits}d",
            F.floor(absq / F.lit(scale)).cast("long"),
            (absq % scale).cast("long"),
        ),
    )


def analyze_report_df(per_image: DataFrame) -> DataFrame:
    """A10: the master report (test.py:366-515) as (line_no, line) rows,
    entirely in Catalyst — header, ruler, thousands-separated totals
    (format_number), then one line per image sorted by image_id with
    bounds at fixed %.6f (the portable integer assembly of
    :func:`fixed_point_col`). Input is the analyze_images aggregate.

    Scale note: line numbering uses a GLOBAL-order window (no
    partitionBy), which funnels the per-image rows through one task by
    design — the report is a single ordered document, O(files) rows of
    short strings (~100 MB at 10^6 files), not O(points). Callers who
    only need the per-image lines unordered can skip this sink and read
    the analyze_images aggregate directly."""
    totals = per_image.agg(
        F.count("*").alias("nf"),
        F.sum("valid_pixels").cast("long").alias("nv"),
    )
    hdr = totals.select(
        F.explode(F.array(
            F.struct(F.lit(0).cast("long").alias("line_no"),
                     F.lit("TIFF ANALYSIS MASTER REPORT").alias("line")),
            F.struct(F.lit(1).cast("long").alias("line_no"),
                     F.lit("=" * 50).alias("line")),
            F.struct(F.lit(2).cast("long").alias("line_no"),
                     F.format_string("Total files analyzed: %d", F.col("nf")).alias("line")),
            F.struct(F.lit(3).cast("long").alias("line_no"),
                     F.concat(F.lit("Total valid points: "),
                              F.format_number(F.col("nv"), 0)).alias("line")),
        )).alias("s")
    ).select("s.line_no", "s.line")
    from pyspark.sql import Window

    body = per_image.select(
        (F.row_number().over(Window.orderBy("image_id")) + 3).cast("long").alias("line_no"),
        F.concat(
            F.lit("  "), F.col("image_id").cast("string"), F.lit(": "),
            F.format_number(F.col("valid_pixels").cast("long"), 0),
            F.lit(" valid points bounds=("),
            fixed_point_col("min_longitude"), F.lit(","),
            fixed_point_col("min_latitude"), F.lit(")...("),
            fixed_point_col("max_longitude"), F.lit(","),
            fixed_point_col("max_latitude"), F.lit(")"),
        ).alias("line"),
    )
    return hdr.unionAll(body)


def json_envelope_rows(points: DataFrame, group_col: str = "image_id",
                       order_col: str = "pixel_idx", lon: str = "longitude",
                       lat: str = "latitude", z: str = "elevation") -> DataFrame:
    """A8, driver-checkable form: :func:`json_struct_of_arrays`'s
    envelope per group as ONE compact JSON string row — the same field
    order (doesSamples.py:108-133: metadata{source_file, output_crs,
    frontend_points, bounds{...}} then data{longitude, latitude,
    elevation} parallel arrays in ``order_col`` order) with floats at
    fixed precision (lon/lat %.6f, z %.2f via exact integer assembly) so
    the bytes are engine-portable and hashable by the driver.

    The arrays + every bound/count come from one aggregate per group
    (array_sort of (ordinal, formatted) structs — deterministic across
    shuffles), exactly the single-pass shape of the driver-side sink."""
    fmt = points.select(
        F.col(group_col).alias("g"),
        F.col(order_col).alias("o"),
        fixed_point_col(lon, 6).alias("slon"),
        fixed_point_col(lat, 6).alias("slat"),
        fixed_point_col(z, 2).alias("sz"),
        F.col(lon).alias("lon"), F.col(lat).alias("lat"), F.col(z).alias("z"),
    )

    # ONE sorted struct array shared by the three parallel data arrays:
    # the ordinal may have ties (point_id is not unique across lineitem),
    # so the sort key is the full (o, slon, slat, sz) tuple — total order,
    # and all three arrays stay row-parallel
    trip = F.array_sort(F.collect_list(F.struct(
        F.col("o").alias("o"), F.col("slon").alias("slon"),
        F.col("slat").alias("slat"), F.col("sz").alias("sz"))))
    agg = fmt.groupBy("g").agg(
        F.count("*").alias("n"),
        trip.alias("trip"),
        F.min("lon").alias("min_lon"), F.max("lon").alias("max_lon"),
        F.min("lat").alias("min_lat"), F.max("lat").alias("max_lat"),
        F.min("z").alias("min_z"), F.max("z").alias("max_z"),
    ).withColumns({
        "lons": F.array_join(F.transform(F.col("trip"), lambda s: s["slon"]), ","),
        "lats": F.array_join(F.transform(F.col("trip"), lambda s: s["slat"]), ","),
        "zs": F.array_join(F.transform(F.col("trip"), lambda s: s["sz"]), ","),
    })
    return agg.select(
        F.col("g").cast("string").alias(group_col),
        F.concat(
            F.lit('{"metadata":{"source_file":"'), F.col("g").cast("string"),
            F.lit('","output_crs":"EPSG:4326","frontend_points":'),
            F.col("n").cast("string"),
            F.lit(',"bounds":{"min_longitude":'), fixed_point_col("min_lon", 6),
            F.lit(',"max_longitude":'), fixed_point_col("max_lon", 6),
            F.lit(',"min_latitude":'), fixed_point_col("min_lat", 6),
            F.lit(',"max_latitude":'), fixed_point_col("max_lat", 6),
            F.lit(',"min_elevation":'), fixed_point_col("min_z", 2),
            F.lit(',"max_elevation":'), fixed_point_col("max_z", 2),
            F.lit('}},"data":{"longitude":['), F.col("lons"),
            F.lit('],"latitude":['), F.col("lats"),
            F.lit('],"elevation":['), F.col("zs"),
            F.lit("]}}"),
        ).alias("envelope"),
    )
