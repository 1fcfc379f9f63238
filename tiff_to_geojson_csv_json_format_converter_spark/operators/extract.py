"""Raster -> point-table extraction: the engine's spine.

Distributed re-expression of the reference converter pipeline
(``doesSamples.py:10-226``, ``willOnlyStoreValidPoints.py:10-206``,
``completePixleOutput.py:10-159``):

    read band -> meshgrid explode -> affine xy (pixel centers)
    -> float32 downcast -> reproject to WGS84 -> NoData filter
    -> np.round(6, 6, 2) -> stride sample

as ONE ``mapInArrow`` pass over the images table. Every step is
vectorized numpy inside the Arrow batch (the reference's own inner
loops are all-numpy; per-row Python never happens). Bit-for-bit
quirk preservation:

- x/y are downcast to float32 BEFORE reprojection
  (doesSamples.py:50-52 "Use float32 to save space")
- rounding uses np.round (banker's), not SQL half-up
  (completePixleOutput.py:64-68)
- stride sampling takes indices 0, r, 2r, ... of the row-major
  flattened grid with r = total // cap when over the cap
  (doesSamples.py:73-89); the engine computes ONLY the sampled
  pixels — semantics identical because every step is elementwise
- validity is z > -1e30 for float rasters
  (willOnlyStoreValidPoints.py:66-68) and z > 0 for uint8 imagery
  (test2.py:1424-1439 permissive path)

Scale note: one input image row -> up to w*h*bands output rows from
``extract_points``. The explode happens executor-side inside Arrow
batches; output batches are capped at ~256k rows per yield. No shuffle
is involved — extraction is embarrassingly parallel and scales
linearly with executors. Every point then crosses the Python->JVM
boundary (~52 bytes a row), which is the cost when only an aggregate
is wanted.

One driver (:func:`_extract_fold`) runs that pass for every consumer: it
owns the ``mapInArrow`` over the images, the per-image kernel call, the
optional bbox push-down and the batching of the output rows. A consumer
supplies its output schema and an ``emit`` that maps one image's bands
to output columns. ``extract_points``' emit passes the bands on as they
are; three emits fold them in the worker instead, so only O(images x
groups) rows cross:

- ``extract_summaries``: one row per images row (count and bounds), for
  the catalog, ``Converter.analyze`` and ``tiling.catalog_rollup``; its
  ``collect()`` is one job with no shuffle;
- ``extract_partials``: one count per (image, tile), for tiles (on 96
  images, 3.04 M points -> ~3.8 k rows);
- ``zonal.zonal_stats`` over an untouched default ``extract_points``
  frame: one row per (image, band) inside the polygon (see
  :func:`source_images`).

The ~14 MB of encoded images sent to the workers is the same on every
path.
"""

from __future__ import annotations

import functools
from typing import Iterator

import numpy as np

from ..functions import cells, projection
from ..sources import codecs

POINTS_SCHEMA = (
    "image_id string, band int, pixel_idx long, "
    "longitude double, latitude double, elevation double"
)

# extract_partials: one row per (image, tile) — its valid-point count
PARTIALS_SCHEMA = "image_id string, tile_id long, n long"

# extract_summaries: one row per images row — its size, valid-point count
# and bounds (NULL bounds when it has no valid point)
SUMMARY_SCHEMA = (
    "image_id string, w int, h int, n long, "
    "min_longitude double, max_longitude double, min_latitude double, "
    "max_latitude double, min_elevation double, max_elevation double"
)

# the image columns the per-image kernel (_extract_image) reads
_KERNEL_COLS = ("image_id", "bytes", "w", "h", "fmt", "transform", "crs", "band_count")

MAX_FRONTEND_POINTS = 100_000  # doesSamples.py:74
MAX_GEOJSON_POINTS = 10_000  # doesSamples.py:145
_BATCH_ROWS = 262_144


def _extract_image(
    image_id: str,
    buf: bytes,
    w: int,
    h: int,
    fmt: str,
    transform: tuple,
    crs: str,
    band_count: int,
    valid_only: bool,
    sample_cap: int | None,
    geojson_cap: int | None,
    round_output: bool,
    window: tuple | None = None,
):
    """Yield (image_id, band, pixel_idx, lon, lat, z) numpy column sets.

    ``window=(row0, row1, col0, col1)`` restricts extraction to a pixel
    window (half-open) — the windowed-read operator (SURVEY.md A4,
    test2.py:1322-1338's pixel-window clip): only the window's pixels
    are transformed, the reference's crop=True economy.
    """
    total = h * w
    if sample_cap is not None and total > sample_cap:
        rate = total // sample_cap  # doesSamples.py:76
    else:
        rate = 1
    if window is None or geojson_cap is not None:
        idx = np.arange(0, total, rate, dtype=np.int64)
        # geojson stride runs on the FULL sample-capped index sequence,
        # the window filter after it: a pushed-down window must select a
        # SUBSET of the pixels the full-extract path would select
        # (full-extract-then-filter equivalence), never re-stride
        if geojson_cap is not None and len(idx) > geojson_cap:
            geo_rate = len(idx) // geojson_cap  # doesSamples.py:146-148
            idx = idx[np.arange(0, len(idx), geo_rate)]
        if window is not None:
            r0, r1, c0, c1 = (int(v) for v in window)
            wr = idx // w
            wc = idx % w
            idx = idx[(wr >= r0) & (wr < r1) & (wc >= c0) & (wc < c1)]
    else:
        # window-proportional index generation: the set {i in window :
        # i % rate == 0} built row by row — never an O(w*h) arange when
        # only a small window is read (the crop=True economy for real)
        r0, r1, c0, c1 = (int(v) for v in window)
        r0, r1 = max(r0, 0), min(r1, h)
        c0, c1 = max(c0, 0), min(c1, w)
        pieces = []
        for row in range(r0, r1):
            base = row * w
            start = base + c0 + (-(base + c0)) % rate
            if start < base + c1:
                pieces.append(np.arange(start, base + c1, rate, dtype=np.int64))
        idx = np.concatenate(pieces) if pieces else np.empty(0, dtype=np.int64)
    if len(idx) == 0:
        return  # empty window: skip the decode entirely
    grid = codecs.decode(buf, fmt, w, h * band_count).reshape(band_count, h, w)
    # idx is strictly increasing, so at full length it IS arange(h*w):
    # broadcast the affine over a row and a column vector instead of
    # splitting w*h indices — each element is the same IEEE expression
    full = len(idx) == total
    if full:
        rows, cols = np.arange(h, dtype=np.int64)[:, None], np.arange(w, dtype=np.int64)
    else:
        rows, cols = idx // w, idx % w
    # affine at pixel centers (rasterio.transform.xy convention) — the
    # shared kernel, float32 downcast AFTER (doesSamples.py:50-52 quirk)
    from ..functions import affine as _affine

    xf, yf = _affine.pixel_to_world(transform, rows, cols)
    x = xf.astype(np.float32).reshape(-1)
    y = yf.astype(np.float32).reshape(-1)
    lon, lat = projection.to_wgs84(x.astype(np.float64), y.astype(np.float64), crs)
    for band in range(band_count):
        z = grid[band].reshape(-1)
        z = (z if full else z[idx]).astype(np.float32, copy=False)
        if valid_only:
            mask = (z > 0) if grid.dtype == np.uint8 else (z > -1e30)
            if not mask.all():
                bi, bl, bb, bz = idx[mask], lon[mask], lat[mask], z[mask]
            else:
                bi, bl, bb, bz = idx, lon, lat, z
        else:
            bi, bl, bb, bz = idx, lon, lat, z
        if round_output:
            bl = np.round(bl, 6)
            bb = np.round(bb, 6)
            # force-extract (valid_only=False) rows keep the float32
            # NoData sentinel (~-3.4e38); round's internal *100 overflows
            # float32 to -inf BY DESIGN (the value is a sentinel, not a
            # measurement) — suppress the noisy-but-expected warning
            with np.errstate(over="ignore"):
                bz = np.round(bz, 2)
        yield band, bi, bl, bb, bz.astype(np.float64)


def overview_chain(cents: np.ndarray, valid: np.ndarray,
                   levels: int) -> list[tuple[np.ndarray, np.ndarray]]:
    """NoData-aware 2x2 box-filter overview chain over an integer grid —
    the per-image kernel of :func:`build_overviews`, pure numpy so the
    digest oracle can replay it single-process and tests can pin it to
    hand-computed fixtures.

    Semantics (GDAL-overview-like, defined exactly so two engines agree
    bit-for-bit): each parent pixel averages its up-to-4 VALID children
    (``floor_divide`` — floors toward -inf for negative sums, a fixed
    choice, not a float rounding); a parent with zero valid children is
    itself invalid (value 0, mask False). Odd trailing rows/cols are
    truncated (floor(w/2) x floor(h/2) per level, the COG convention).
    Integer in, integer out: sums of cents stay exact int64 at any
    depth."""
    out = []
    g, v = cents, valid
    for _ in range(levels):
        h2, w2 = g.shape[0] // 2, g.shape[1] // 2
        if h2 == 0 or w2 == 0:
            break
        g4 = g[: h2 * 2, : w2 * 2].reshape(h2, 2, w2, 2)
        v4 = v[: h2 * 2, : w2 * 2].reshape(h2, 2, w2, 2)
        s = (g4 * v4).sum(axis=(1, 3), dtype=np.int64)
        n = v4.sum(axis=(1, 3), dtype=np.int64)
        nv = n > 0
        p = np.zeros((h2, w2), dtype=np.int64)
        p[nv] = np.floor_divide(s[nv], n[nv])
        out.append((p, nv))
        g, v = p, nv
    return out


def iter_overviews(buf: bytes, fmt: str, w: int, h: int, band_count: int,
                   levels: int):
    """Decode one image and yield (band, level, grid, valid_mask) for
    every overview level — the ONE decode+quantize+chain path shared by
    the Spark operator and the single-process digest-oracle replay, so
    the driver contract checks the distributed plumbing against
    literally the same kernel. Validity matches the extraction mask
    exactly (u8: z > 0, else z > -1e30)."""
    grid = codecs.decode(buf, fmt, w, h * band_count).reshape(
        band_count, h, w)
    for band in range(band_count):
        z = grid[band].astype(np.float32)
        valid = (z > 0) if grid.dtype == np.uint8 else (z > -1e30)
        cents = np.zeros(z.shape, dtype=np.int64)
        cents[valid] = np.floor(
            z[valid].astype(np.float64) * 100.0).astype(np.int64)
        for lv, (p, nv) in enumerate(
                overview_chain(cents, valid, levels), start=1):
            yield band, lv, p, nv


def build_overviews(images_df, levels: int = 3,
                    include_grids: bool = False):
    """Per-image multi-resolution overviews (COG/map-server zoom-out
    levels): every band's grid is cents-quantized and successively
    halved with the NoData-aware integer box filter
    (:func:`overview_chain`), one Arrow pass per image batch — the
    image-axis twin of the cross-image mosaic pyramid
    (``tiling.tile_pyramid``). Embarrassingly parallel (no shuffle:
    each image's chain is local to its row), so it scales with the
    scan. Emits (image_id, band, level, w, h, n_valid, sum_cents) per
    level >= 1; ``include_grids=True`` appends the overview grid itself
    as int64 ``.npy`` bytes (the artifact a tile server would store).
    Validity matches the extraction mask exactly (u8: z > 0, else
    z > -1e30). NOTE the quantization intentionally differs from the
    extract digests: cents here are floor(raw_z * 100) — no output
    rounding, because overviews summarize the raster itself, not the
    rounded export rows — so overview sums are NOT comparable to the
    extract digest sums."""
    schema = ("image_id string, band int, level int, w int, h int, "
              "n_valid long, sum_cents long")
    if include_grids:
        schema += ", grid binary"

    def run(batches):
        import io

        import pandas as pd

        for pdf in batches:
            rows: dict[str, list] = {k: [] for k in (
                "image_id", "band", "level", "w", "h", "n_valid",
                "sum_cents") + (("grid",) if include_grids else ())}
            for r in pdf.itertuples(index=False):
                for band, lv, p, nv in iter_overviews(
                        bytes(r.bytes), r.fmt, int(r.w), int(r.h),
                        int(r.band_count), levels):
                    rows["image_id"].append(r.image_id)
                    rows["band"].append(band)
                    rows["level"].append(lv)
                    rows["h"].append(p.shape[0])
                    rows["w"].append(p.shape[1])
                    rows["n_valid"].append(int(nv.sum()))
                    rows["sum_cents"].append(int(p[nv].sum()))
                    if include_grids:
                        buf = io.BytesIO()
                        np.save(buf, p)
                        rows["grid"].append(buf.getvalue())
            yield pd.DataFrame(rows)

    cols = ["image_id", "bytes", "w", "h", "fmt", "band_count"]
    return images_df.select(*cols).mapInPandas(run, schema)


def bbox_pixel_window(transform, crs, w: int, h: int, bbox: tuple) -> tuple:
    """Map a lon/lat bbox to the (r0, r1, c0, c1) pixel window covering
    it (half-open, clamped, +1.5px pad).

    The bbox boundary is DENSIFIED (33 samples/edge), not just 4
    corners: projected parallels/meridians are curved in pixel space
    (transverse Mercator northing along a constant-lat edge is minimal
    at the central meridian), so window extremes can sit in an edge's
    interior — corner-only mapping silently dropped in-bbox rows
    (regression: tests/test_extract.py meridian test, 2.3px dip).
    """
    from ..functions import affine as _affine
    from ..functions import projection as _projection

    min_lon, min_lat, max_lon, max_lat = bbox
    t = np.linspace(0.0, 1.0, 33)
    lon_edge = min_lon + (max_lon - min_lon) * t
    lat_edge = min_lat + (max_lat - min_lat) * t
    lons = np.concatenate([
        lon_edge, lon_edge,
        np.full_like(t, min_lon), np.full_like(t, max_lon),
    ])
    lats = np.concatenate([
        np.full_like(t, min_lat), np.full_like(t, max_lat),
        lat_edge, lat_edge,
    ])
    xs, ys = _projection.from_wgs84(lons, lats, crs)
    rr, cc = _affine.world_to_pixel(transform, xs, ys)
    r0 = max(0, int(np.floor(rr.min() - 0.5)))
    r1 = min(h, int(np.ceil(rr.max() + 1.5)))
    c0 = max(0, int(np.floor(cc.min() - 0.5)))
    c1 = min(w, int(np.ceil(cc.max() + 1.5)))
    return (r0, r1, c0, c1)


def extract_points(
    images_df,
    *,
    valid_only: bool = True,
    sample_cap: int | None = None,
    geojson_cap: int | None = None,
    round_output: bool = True,
    bbox: tuple | None = None,
):
    """images DataFrame -> points DataFrame (POINTS_SCHEMA).

    ``valid_only=False`` is the reference's ``force_extract`` switch
    (pyc ``extract_elevation_data(..., force_extract, sample_rate)``).
    ``sample_cap``/``geojson_cap`` give the doesSamples.py stride caps.
    ``bbox=(min_lon, min_lat, max_lon, max_lat)`` pushes a windowed read
    into the decode (SURVEY.md A4): each image computes only the pixel
    window its transform maps into the bbox (half-pixel padded), then a
    final inclusive lon/lat bbox mask is applied to the (rounded) output
    — so the result IS exactly full-extract-then-filter, with the window
    only an economy.

    The default frame (``valid_only=True``, every other argument at its
    default) remembers ``images_df``: see :func:`source_images`.
    """
    points = _extract_fold(images_df, POINTS_SCHEMA, _emit_points,
                           (valid_only, sample_cap, geojson_cap, round_output), bbox)
    if valid_only and sample_cap is None and geojson_cap is None and round_output and bbox is None:
        points._source_images = images_df
    return points


def source_images(points):
    """The images frame that ``points`` re-extracts, or None.

    Only a frame returned as-is by ``extract_points(images,
    valid_only=True)`` with every other argument at its default carries
    it: every DataFrame transformation returns a new object without the
    attribute. ``.cache()`` returns the same object, so a frame whose
    plan is cached (or persisted) gives None too: reading its cached rows
    is cheaper than decoding the images again. An aggregate over such a
    frame may run its own fold inside the extract pass (``zonal.
    zonal_stats``) and get what it would over the points."""
    from pyspark import StorageLevel

    images = vars(points).get("_source_images")
    # is_cached answers for the frame itself without a JVM call; the
    # storage level also sees the same plan cached through another frame
    if images is None or points.is_cached or points.storageLevel != StorageLevel.NONE:
        return None
    return images


# pyarrow type of each DDL type name in the consumers' schemas
_ARROW_TYPES = {"string": "string", "int": "int32", "long": "int64", "double": "float64"}


def _extract_fold(images_df, schema: str, emit, kernel: tuple = (True, None, None, True),
                  bbox: tuple | None = None):
    """images DataFrame -> ``schema`` rows: one ``mapInArrow`` pass of
    :func:`_fold_batches`. ``kernel`` is ``_extract_image``'s
    ``(valid_only, sample_cap, geojson_cap, round_output)``; the default
    gives the valid, rounded points."""
    cap = _BATCH_ROWS  # read here, so the workers run the plan's cap
    return images_df.select(*_KERNEL_COLS).mapInArrow(
        lambda batches: _fold_batches(batches, schema, emit, kernel, bbox, cap), schema)


def _fold_batches(batches: Iterator, schema: str, emit, kernel: tuple, bbox, cap: int) -> Iterator:
    """:func:`_extract_fold`'s body: image batches -> ``schema`` batches of
    about ``cap`` rows.

    Each images row runs ``_extract_image(*row, *kernel)``; with ``bbox``
    it reads only the bbox's pixel window (:func:`bbox_pixel_window`) and
    keeps the points inside the bbox, bounds included. ``emit(row,
    bands)`` gets the row's kernel columns and its non-empty bands and
    yields chunks: equal-length arrays or lists, one per ``schema`` column
    after ``image_id``. A chunk over ``cap`` rows is split before it is
    buffered (one 4096x4096 band would otherwise blow the cap 64x), and
    ``image_id`` is built in Arrow (``take`` of one name per chunk),
    never as Python strings."""
    import pyarrow as pa

    fields = [f.split() for f in schema.split(", ")]
    types = [getattr(pa, _ARROW_TYPES[t])() for _, t in fields[1:]]
    ids, lens, chunks, n_buf = [], [], [], 0

    def batch():
        rep = np.repeat(np.arange(len(ids), dtype=np.int32), lens)
        return pa.RecordBatch.from_arrays(
            [pa.array(ids, pa.string()).take(pa.array(rep))]
            + [pa.array(np.concatenate(c), t) for c, t in zip(zip(*chunks), types)],
            names=[name for name, _ in fields],
        )

    for images in batches:
        tbl = images.to_pydict()
        for row in zip(*(tbl[c] for c in _KERNEL_COLS)):
            window = None if bbox is None else bbox_pixel_window(
                row[5], row[6], row[2], row[3], bbox)
            bands = _extract_image(*row, *kernel, window=window)
            if bbox is not None:
                bands = _clip_to_bbox(bands, bbox)
            for chunk in emit(row, (b for b in bands if len(b[1]))):
                for lo in range(0, len(chunk[0]), cap):
                    part = [c[lo:lo + cap] for c in chunk]
                    ids.append(row[0])
                    lens.append(len(part[0]))
                    chunks.append(part)
                    n_buf += lens[-1]
                    if n_buf >= cap:
                        yield batch()
                        ids, lens, chunks, n_buf = [], [], [], 0
    if n_buf:
        yield batch()


def _clip_to_bbox(bands: Iterator, bbox: tuple) -> Iterator:
    """``_extract_image``'s bands restricted to the points inside the
    lon/lat ``bbox``, bounds included."""
    min_lon, min_lat, max_lon, max_lat = bbox
    for band, bi, bl, bb, bz in bands:
        m = (bl >= min_lon) & (bl <= max_lon) & (bb >= min_lat) & (bb <= max_lat)
        yield band, bi[m], bl[m], bb[m], bz[m]


def _emit_points(row, bands):
    """extract_points' emit: every band's points as they are."""
    for band, bi, bl, bb, bz in bands:
        yield np.full(len(bi), band, dtype=np.int32), bi, bl, bb, bz


def fold_by_key(key: np.ndarray) -> tuple:
    """Count int64 ``key``: returns the distinct keys (ascending) and the
    count per key.

    Row-major pixels come in runs of one key (a tile's span of an image
    row), so each run is counted where it lies and only the run heads are
    sorted: the same counts as a sort of every row."""
    runs = np.flatnonzero(np.r_[True, key[1:] != key[:-1]])
    order = np.argsort(key[runs], kind="stable")
    ks = key[runs][order]
    starts = np.flatnonzero(np.r_[True, ks[1:] != ks[:-1]])
    n = np.add.reduceat(np.diff(np.r_[runs, len(key)])[order], starts)
    return ks[starts], n


def extract_partials(images_df, level: int = 12):
    """images DataFrame -> PARTIALS_SCHEMA: the valid, rounded points of
    :func:`extract_points` counted inside the same Arrow pass per
    (image_id, tile_id), over all bands. ``tile_id`` is
    ``cells.tile_id_col``'s row-major id at ``level`` (``cells.tile_xy``
    is its numpy twin).

    Tile aggregates (``Converter.tiles``) fold these rows with
    ``sum``/``countDistinct`` and get exactly what they would over the
    points, while the Python->JVM boundary carries O(images x tiles) rows
    instead of O(pixels). Per-image aggregates fold
    :func:`extract_summaries` instead."""
    return _extract_fold(images_df, PARTIALS_SCHEMA, functools.partial(_emit_partials, level))


def _emit_partials(level: int, row, bands):
    """extract_partials' emit: one (tile_id, n) row per tile of the image."""
    bands = list(bands)
    if bands:
        lon, lat = (np.concatenate([b[k] for b in bands]) if len(bands) > 1
                    else bands[0][k] for k in (2, 3))
        tx, ty = cells.tile_xy(lon, lat, level)
        yield fold_by_key(tx * (1 << level) + ty)


def extract_summaries(images_df):
    """images DataFrame -> SUMMARY_SCHEMA: exactly one row per images row,
    the valid, rounded points of :func:`extract_points` folded inside the
    same Arrow pass into the point count ``n`` over all bands and the
    lon/lat/elevation bounds, next to the row's ``w`` and ``h``. An image
    with no valid point gets ``n = 0`` and NULL bounds.

    The bounds follow Spark's min/max order: ``min`` skips NaN unless
    every value is NaN (``np.fmin``), ``max`` is NaN as soon as one value
    is (``np.maximum``); so ``F.min``/``F.max`` over these rows give what
    they give over the points. Only O(images) rows leave the Python
    workers, and with no shuffle a ``collect()`` of them is one Spark
    job."""
    return _extract_fold(images_df, SUMMARY_SCHEMA, _emit_summary)


def _emit_summary(row, bands):
    """extract_summaries' emit: the image's one row, also when no band
    has a point."""
    bands = list(bands)
    # (lon, lat, z) of every band: min and max per band, then over bands
    yield ([row[2]], [row[3]], [sum(len(b[1]) for b in bands)], *(
        [fold.reduce([fold.reduce(b[k]) for b in bands]) if bands else None]
        for k in (2, 3, 4) for fold in (np.fmin, np.maximum)))


# (aggregate, column) of the per-image bounds, in output order
_BOUNDS = tuple((agg, c) for c in ("longitude", "latitude", "elevation")
                for agg in ("min", "max"))


def analyze_images(points_df):
    """Per-image metadata aggregates — the analyze-only pipeline
    (test.py:110-200): bounds of valid points + counts. Pure built-in
    aggregation (map-side partial agg; one shuffle on image_id)."""
    from pyspark.sql import functions as F

    return points_df.groupBy("image_id").agg(
        F.count("*").alias("valid_pixels"),
        *(getattr(F, agg)(c).alias(f"{agg}_{c}") for agg, c in _BOUNDS),
    )


def analyze_summaries(summaries_df):
    """:func:`analyze_images` over :func:`extract_summaries` rows: the same
    columns and values, folded from O(images) rows instead of O(points).
    An image with no valid point gets ``valid_pixels = 0`` and NULL bounds
    where :func:`analyze_images` has no row."""
    from pyspark.sql import functions as F

    return summaries_df.groupBy("image_id").agg(
        F.sum("n").alias("valid_pixels"),
        *(getattr(F, agg)(f"{agg}_{c}").alias(f"{agg}_{c}") for agg, c in _BOUNDS),
    )
