"""Vectorized affine geotransform: pixel (row, col) -> world (x, y).

Mirrors ``rasterio.transform.xy(transform, rows, cols)`` with the
pixel-CENTER convention (offset +0.5), the call the reference makes at
completePixleOutput.py:46 and test.py:63. The 6 coefficients follow the
rasterio/GDAL Affine order ``(a, b, c, d, e, f)``:

    x = c + a * (col + 0.5) + b * (row + 0.5)
    y = f + d * (col + 0.5) + e * (row + 0.5)
"""

from __future__ import annotations

import numpy as np


def pixel_to_world(
    transform: tuple[float, float, float, float, float, float],
    rows: np.ndarray,
    cols: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    a, b, c, d, e, f = (float(v) for v in transform)
    cx = cols + 0.5
    ry = rows + 0.5
    x = c + a * cx + b * ry
    y = f + d * cx + e * ry
    return x, y


def world_to_pixel(
    transform: tuple[float, float, float, float, float, float],
    x: np.ndarray,
    y: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """Inverse mapping world -> fractional (row, col) pixel-center coords.

    The analog of ``rasterio.transform.rowcol`` (test2.py:1322-1338's
    pixel-window clip fallback) without the int truncation.
    """
    a, b, c, d, e, f = (float(v) for v in transform)
    det = a * e - b * d
    if det == 0.0:
        raise ValueError("singular geotransform")
    dx = np.asarray(x, dtype=np.float64) - c
    dy = np.asarray(y, dtype=np.float64) - f
    col = (e * dx - b * dy) / det - 0.5
    row = (-d * dx + a * dy) / det - 0.5
    return row, col
