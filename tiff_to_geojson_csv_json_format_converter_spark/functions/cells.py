"""Hierarchical cell index (S2/H3-style) for tile assignment, joins, kNN.

No h3/s2 library exists in this environment, so the engine carries a
deterministic quadtree index over WGS84 lon/lat (web-mercator-free,
plain equirectangular tiling — adequate for tile-assignment identity,
cover joins, and ring-expansion kNN, which is all the north rule needs):

- level L in [0, 28]; the world is a 2^L x 2^L grid
- ``tile_x = floor((lon+180)/360 * 2^L)``, ``tile_y = floor((90-lat)/180 * 2^L)``
- ``cell_id`` packs (level, morton(tile_x, tile_y)) into an int64:
  ``(L << 58) | interleave(x, y)`` so a cell's 2-bit-truncated morton is
  its parent — Z-order prefixes give hierarchical partition pruning.

Two twin implementations are provided and tested equal:
- numpy (used inside pandas UDFs and the test oracle)
- Spark Column expressions (pure JVM / whole-stage-codegen — the hot
  path never leaves Tungsten; tile assignment at 10^12 scale is just
  integer arithmetic in codegen)
"""

from __future__ import annotations

from functools import lru_cache as _lru_cache

import numpy as np

try:  # Column-expression twin is optional at import time (numpy-only users)
    from pyspark.sql import Column
    from pyspark.sql import functions as F
except Exception:  # pragma: no cover
    F = None

MAX_LEVEL = 28

_M1 = np.uint64(0x0000FFFF0000FFFF)
_M2 = np.uint64(0x00FF00FF00FF00FF)
_M3 = np.uint64(0x0F0F0F0F0F0F0F0F)
_M4 = np.uint64(0x3333333333333333)
_M5 = np.uint64(0x5555555555555555)


def _part1by1(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.uint64)
    v = (v | (v << np.uint64(16))) & _M1
    v = (v | (v << np.uint64(8))) & _M2
    v = (v | (v << np.uint64(4))) & _M3
    v = (v | (v << np.uint64(2))) & _M4
    v = (v | (v << np.uint64(1))) & _M5
    return v


def _unpart1by1(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.uint64) & _M5
    v = (v | (v >> np.uint64(1))) & _M4
    v = (v | (v >> np.uint64(2))) & _M3
    v = (v | (v >> np.uint64(4))) & _M2
    v = (v | (v >> np.uint64(8))) & _M1
    v = (v | (v >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return v


def tile_xy(lon: np.ndarray, lat: np.ndarray, level: int) -> tuple[np.ndarray, np.ndarray]:
    """numpy twin of ``tile_x_col``/``tile_y_col``, also off the finite
    range: Spark's floor saturates to a long (NaN -> 0) before the clamp,
    so the clamp runs in float here, before the int64 cast (``fmax``/
    ``fmin`` skip NaN, so NaN lands on tile 0 and +-inf on the edges).
    Each step runs in place on one float copy per axis."""
    n = 1 << level
    tx = np.array(lon, dtype=np.float64)
    tx += 180.0
    tx /= 360.0
    ty = np.array(lat, dtype=np.float64)
    np.subtract(90.0, ty, out=ty)
    ty /= 180.0
    out = []
    for t in (tx, ty):
        t *= n
        np.floor(t, out=t)
        np.fmin(np.fmax(t, 0, out=t), n - 1, out=t)
        out.append(t.astype(np.int64))
    return tuple(out)


def cell_id(lon: np.ndarray, lat: np.ndarray, level: int) -> np.ndarray:
    """int64 cell id: (level << 58) | morton(tile_x, tile_y)."""
    if not 0 <= level <= MAX_LEVEL:
        raise ValueError(f"level out of range: {level}")
    tx, ty = tile_xy(lon, lat, level)
    m = _part1by1(tx.astype(np.uint64)) | (_part1by1(ty.astype(np.uint64)) << np.uint64(1))
    return ((np.uint64(level) << np.uint64(58)) | m).astype(np.int64)


def cell_level(cid: np.ndarray) -> np.ndarray:
    return (np.asarray(cid).astype(np.uint64) >> np.uint64(58)).astype(np.int64)


def cell_to_xy(cid: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """cell id -> (level, tile_x, tile_y)."""
    u = np.asarray(cid).astype(np.uint64)
    lvl = (u >> np.uint64(58)).astype(np.int64)
    m = u & ((np.uint64(1) << np.uint64(58)) - np.uint64(1))
    tx = _unpart1by1(m).astype(np.int64)
    ty = _unpart1by1(m >> np.uint64(1)).astype(np.int64)
    return lvl, tx, ty


def xy_to_cell(tx: np.ndarray, ty: np.ndarray, level: int) -> np.ndarray:
    m = _part1by1(np.asarray(tx).astype(np.uint64)) | (
        _part1by1(np.asarray(ty).astype(np.uint64)) << np.uint64(1)
    )
    return ((np.uint64(level) << np.uint64(58)) | m).astype(np.int64)


def parent(cid: np.ndarray, steps: int = 1) -> np.ndarray:
    lvl, tx, ty = cell_to_xy(cid)
    new_lvl = lvl - steps
    if np.any(new_lvl < 0):
        raise ValueError("parent below level 0")
    m = _part1by1((tx >> steps).astype(np.uint64)) | (
        _part1by1((ty >> steps).astype(np.uint64)) << np.uint64(1)
    )
    return ((new_lvl.astype(np.uint64) << np.uint64(58)) | m).astype(np.int64)


def k_ring_xy(tx: int, ty: int, level: int, k: int) -> np.ndarray:
    """All cell ids within Chebyshev distance k of (tx, ty), clipped to
    the grid — the neighborhood probe for cell-ring kNN (SURVEY.md D6)."""
    n = 1 << level
    xs = np.arange(max(0, tx - k), min(n, tx + k + 1))
    ys = np.arange(max(0, ty - k), min(n, ty + k + 1))
    gx, gy = np.meshgrid(xs, ys, indexing="ij")
    return xy_to_cell(gx.ravel(), gy.ravel(), level)


def ring_only_xy(tx: int, ty: int, level: int, k: int) -> np.ndarray:
    """Cells at exactly Chebyshev distance k (the expanding shell)."""
    if k == 0:
        return xy_to_cell(np.array([tx]), np.array([ty]), level)
    full = k_ring_xy(tx, ty, level, k)
    inner = set(k_ring_xy(tx, ty, level, k - 1).tolist())
    return np.array([c for c in full.tolist() if c not in inner], dtype=np.int64)


def cover_bbox(min_lon: float, min_lat: float, max_lon: float, max_lat: float, level: int) -> np.ndarray:
    """Cell ids covering a lon/lat bbox at ``level`` (polygon cover seed
    for the cell equi-join, SURVEY.md D3)."""
    x0, y1 = tile_xy(np.array([min_lon]), np.array([min_lat]), level)
    x1, y0 = tile_xy(np.array([max_lon]), np.array([max_lat]), level)
    xs = np.arange(x0[0], x1[0] + 1)
    ys = np.arange(y0[0], y1[0] + 1)
    gx, gy = np.meshgrid(xs, ys, indexing="ij")
    return xy_to_cell(gx.ravel(), gy.ravel(), level)


def cell_bounds(cid: int) -> tuple[float, float, float, float]:
    """(min_lon, min_lat, max_lon, max_lat) of one cell."""
    lvl, tx, ty = cell_to_xy(np.array([cid]))
    n = 1 << int(lvl[0])
    min_lon = float(tx[0]) / n * 360.0 - 180.0
    max_lon = float(tx[0] + 1) / n * 360.0 - 180.0
    max_lat = 90.0 - float(ty[0]) / n * 180.0
    min_lat = 90.0 - float(ty[0] + 1) / n * 180.0
    return min_lon, min_lat, max_lon, max_lat


# --- Spark Column twins (pure JVM, whole-stage codegen) ---------------------

def tile_x_col(lon: "Column", level: int) -> "Column":
    n = 1 << level
    return F.least(F.lit(n - 1), F.greatest(F.lit(0), F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n))))).cast("long")


def tile_y_col(lat: "Column", level: int) -> "Column":
    n = 1 << level
    return F.least(F.lit(n - 1), F.greatest(F.lit(0), F.floor((F.lit(90.0) - lat) / F.lit(180.0) * F.lit(float(n))))).cast("long")


@_lru_cache(maxsize=1)
def _morton_table_sql() -> str:
    """The 256-entry byte->spread-bits array literal, built once per
    process (256 numpy spreads + a ~1.8 KB string join are pure
    overhead to repeat per plan-construction call)."""
    return "array(%s)" % ",".join(
        str(int(_part1by1(np.array([b], dtype=np.uint64))[0])) + "L"
        for b in range(256))


def _part1by1_col(v: "Column") -> "Column":
    """Morton bit-spread as a Column expression via a 256-entry constant
    table, one lookup per input byte.

    The obvious shift-mask ladder duplicates its operand at every one
    of its 5 steps — a 2^5-fold expression-tree blowup per coordinate
    that breaches janino's 64 KB method limit once several cell ids
    share one projection, dropping the whole stage out of codegen. The
    table form references the operand 4x total; the array literal
    constant-folds to a single object in the codegen references, so
    generated code stays small and in whole-stage codegen."""
    table = F.expr(_morton_table_sql())
    out = None
    for byte_i in range(4):  # 28-bit levels: 4 bytes cover tile_x/y
        b = F.shiftrightunsigned(v, 8 * byte_i).bitwiseAND(F.lit(255))
        part = F.element_at(table, (b + F.lit(1)).cast("int"))
        part = F.shiftleft(part, 16 * byte_i) if byte_i else part
        out = part if out is None else out.bitwiseOR(part)
    return out


def cell_id_col(lon: "Column", lat: "Column", level: int) -> "Column":
    """int64 cell id as a pure Column expression — tile assignment stays
    inside Tungsten codegen; no Python is involved at any scale."""
    morton = _part1by1_col(tile_x_col(lon, level)).bitwiseOR(
        F.shiftleft(_part1by1_col(tile_y_col(lat, level)), 1))
    return F.lit(level << 58).bitwiseOR(morton).cast("long")


def tile_id_col(lon: "Column", lat: "Column", level: int) -> "Column":
    """Row-major (non-morton) tile id ``tile_x * 2^level + tile_y`` — the
    SQL-oracle-friendly variant; same partition-assignment semantics."""
    return (tile_x_col(lon, level) * F.lit(1 << level) + tile_y_col(lat, level)).cast("long")
