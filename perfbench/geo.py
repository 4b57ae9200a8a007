"""Web-Mercator and XYZ tile math, written out here so that the generator and the
reference checks do not depend on the package they check.

The formulas are the OpenLayers ones (EPSG:4326 <-> EPSG:3857, a 2^z x 2^z XYZ
grid with its origin at the top-left corner).
"""

from __future__ import annotations

import math

import numpy as np

R = 6378137.0
HALF = math.pi * R
WORLD = 2.0 * HALF

# central Lyon; the benchmark extent is the z12 tile that contains this point
LYON_CENTER = (539186.807, 5739962.159)


def span(z: int) -> float:
    return WORLD / (1 << z)


def tile_of(x, y, z: int):
    """Point(s) -> XYZ tile column and row at zoom z (integer arrays)."""
    s = span(z)
    tx = np.floor((np.asarray(x, dtype=np.float64) + HALF) / s).astype(np.int64)
    ty = np.floor((HALF - np.asarray(y, dtype=np.float64)) / s).astype(np.int64)
    return tx, ty


def tile_bounds(z: int, tx: int, ty: int) -> tuple[float, float, float, float]:
    s = span(z)
    min_x = -HALF + tx * s
    max_y = HALF - ty * s
    return (min_x, max_y - s, min_x + s, max_y)


def extent_z12() -> tuple[float, float, float, float]:
    tx, ty = tile_of(LYON_CENTER[0], LYON_CENTER[1], 12)
    return tile_bounds(12, int(tx), int(ty))


def lonlat_to_merc(lon, lat):
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    return HALF * lon / 180.0, R * np.log(np.tan(np.pi * (lat + 90.0) / 360.0))


def merc_to_lonlat(x, y):
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    return 180.0 * x / HALF, 360.0 * np.arctan(np.exp(y / R)) / np.pi - 90.0
