"""Geocell: a hierarchical quadtree cell index over lon/lat (pure numpy).

Plays the role the 24-zone lon/lat grid plays in the reference
(sql/functionsProcess_21_createFunctionToGetCountry.sql:60-201 and the
685-line priority seeding in sql/functionsProcess_31_organizeAreas_2DGrid.sql):
spatial partition pruning before the exact point-in-polygon test — but
hierarchical (levels 0..28) instead of one hand-tuned 24-zone split, so
pruning granularity adapts to polygon size.

Encoding (int64):  cell = (level << 58) | (y << 29) | x
  level ∈ [0, 28]; at level L the world (lon −180..180, lat −90..90) is a
  2^L × 2^L equirectangular grid; x indexes lon, y indexes lat.
  Level occupies bits 58..62 (5 bits), y bits 29..57, x bits 0..28.
  The encoding is sort-friendly within a level: sorting by cell id groups
  spatially-near rows (row-major), which is what Iceberg/parquet min-max
  file skipping needs.

Everything here has BOTH a numpy form (for use inside Arrow UDFs and the
driver-side polygon-cover builder) and a Spark Column form (JVM-side,
whole-stage-codegen'd — the hot path never leaves the JVM).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

LEVEL_SHIFT = 58
Y_SHIFT = 29
MAX_LEVEL = 28

# ---------------------------------------------------------------- numpy side


def xy_at_level(lat: np.ndarray, lon: np.ndarray, level: int):
    """Grid coordinates at a level. Inputs in degrees; clips to valid range."""
    n = 1 << level
    x = np.floor((np.asarray(lon, dtype=np.float64) + 180.0) / 360.0 * n).astype(np.int64)
    y = np.floor((np.asarray(lat, dtype=np.float64) + 90.0) / 180.0 * n).astype(np.int64)
    return np.clip(x, 0, n - 1), np.clip(y, 0, n - 1)


def encode(lat: np.ndarray, lon: np.ndarray, level: int) -> np.ndarray:
    x, y = xy_at_level(lat, lon, level)
    return (np.int64(level) << LEVEL_SHIFT) | (y << Y_SHIFT) | x


def encode_xy(x, y, level: int):
    return (np.int64(level) << LEVEL_SHIFT) | (np.asarray(y, dtype=np.int64) << Y_SHIFT) | np.asarray(
        x, dtype=np.int64
    )


def decode(cell) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """cell → (level, x, y)."""
    cell = np.asarray(cell, dtype=np.int64)
    level = cell >> LEVEL_SHIFT
    y = (cell >> Y_SHIFT) & ((1 << 29) - 1)
    x = cell & ((1 << 29) - 1)
    return level, x, y


def cell_bounds(cell) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """cell → (lon_min, lat_min, lon_max, lat_max) in degrees."""
    level, x, y = decode(cell)
    n = (np.int64(1) << level).astype(np.float64)
    lon_min = x / n * 360.0 - 180.0
    lat_min = y / n * 180.0 - 90.0
    return lon_min, lat_min, lon_min + 360.0 / n, lat_min + 180.0 / n


def cell_to_parent(cell, parent_level: int) -> np.ndarray:
    level, x, y = decode(cell)
    shift = level - parent_level
    if np.any(shift < 0):
        raise ValueError("parent_level must be <= cell level")
    return encode_xy(x >> shift, y >> shift, parent_level)


def k_ring(cell: int, k: int) -> np.ndarray:
    """All cells within Chebyshev distance k of `cell` at the same level.

    Longitude wraps at the antimeridian (the reference's Pacific-zone wrap,
    functionsProcess_21_createFunctionToGetCountry.sql:184-186); latitude
    clamps at the poles (no wrap over the pole).
    """
    level, x, y = decode(np.int64(cell))
    level, x, y = int(level), int(x), int(y)
    n = 1 << level
    ys = np.arange(max(0, y - k), min(n - 1, y + k) + 1, dtype=np.int64)
    xs = (np.arange(x - k, x + k + 1, dtype=np.int64)) % n  # lon wrap
    xs = np.unique(xs)
    gx, gy = np.meshgrid(xs, ys)
    return encode_xy(gx.ravel(), gy.ravel(), level)


def ring_at_distance(cell: int, k: int) -> np.ndarray:
    """Only the cells at exactly Chebyshev distance k (the expansion ring)."""
    if k == 0:
        return np.asarray([cell], dtype=np.int64)
    inner = set(k_ring(cell, k - 1).tolist())
    outer = k_ring(cell, k)
    return np.asarray([c for c in outer.tolist() if c not in inner], dtype=np.int64)


# ---------------------------------------------------------------- Spark side


def cell_col(lat: Column, lon: Column, level: int) -> Column:
    """JVM-side geocell encode — identical math to encode().

    NULL when either coordinate is NULL: Spark's greatest/least skip
    nulls, so without the guard a missing coordinate clamps to grid
    row/column 0. Stays inside whole-stage codegen: no Python in the
    per-row path.
    """
    n = float(1 << level)
    nmax = (1 << level) - 1
    x = F.least(F.greatest(F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(n)), F.lit(0)), F.lit(nmax))
    y = F.least(F.greatest(F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(n)), F.lit(0)), F.lit(nmax))
    return F.when(
        lat.isNotNull() & lon.isNotNull(),
        (F.lit(level).cast("long") * F.lit(1 << LEVEL_SHIFT).cast("long"))
        + y.cast("long") * F.lit(1 << Y_SHIFT).cast("long")
        + x.cast("long"),
    )


def parent_col(cell: Column, from_level: int, parent_level: int) -> Column:
    """JVM-side cell_to_parent for a known source level."""
    shift = from_level - parent_level
    x = cell.bitwiseAND(F.lit((1 << 29) - 1))
    y = F.shiftright(cell, Y_SHIFT).bitwiseAND(F.lit((1 << 29) - 1))
    return (
        F.lit(parent_level << LEVEL_SHIFT).cast("long")
        + F.shiftright(y, shift).cast("long") * F.lit(1 << Y_SHIFT).cast("long")
        + F.shiftright(x, shift).cast("long")
    )
