"""Nearest-polygon assignment: the maritime / ocean-point fallback.

Reference semantics: notes that fall in no country polygon are assigned
to the nearest maritime boundary ("Taiwan Strait", "International
waters" rows in the countries table — sql/functionsProcess_21_
createFunctionToGetCountry.sql:223 returns -1 and the import flow maps
those to maritime areas). Generalized here as a standalone operator:
for each input point, the polygon whose boundary is nearest under the
engine's pinned planar µdeg metric (knn's metric: squared microdegree
distance with longitude wrap), ties broken by ascending country_id.

Exactness contract (what lets the DuckDB oracle hash-match):
- all arithmetic in IEEE float64 with the SAME operation sequence the
  oracle SQL spells out (point-segment projection: t = (w.v)/|v|^2
  clamped to [0,1]; d2 = |w - t v|^2), over the SAME segment set (each
  ring's n wraparound segments, coordinates = ring degrees * 1e6);
- longitude wrap = min over the three shifts {-360e6, 0, +360e6} of the
  point's lon (rings are pre-split at the antimeridian, so segments
  never cross it);
- the per-polygon minimum is FLOORED to a long before comparison —
  floor() agrees between numpy and DuckDB while round() does not
  (numpy rounds half-to-even, DuckDB half-away-from-zero, and exact
  .5 values DO occur: rect corners sit at half-µdeg offsets, so a
  diagonal point's d2 is (a+0.5)^2+(b+0.5)^2 = integer + 0.5).

Scale design: map-only. The polygon dimension rides along as a plain
broadcast (same PolygonPack the assign join broadcasts); points stream
through one Arrow-batched mapInPandas with NO shuffle and NO join.
Per batch the kernel prunes by a per-polygon bbox distance lower bound
(processed in ascending country_id so ties resolve for free), so the
exact segment sweep only runs for polygons whose bbox could still win —
for admin-0 ocean points that is the handful of coastal neighbours, not
the whole dimension. Callers feed only the unmatched subset (a physical
filter->kernel->union split: a `when(...)` around a Python kernel cannot
short-circuit), so Arrow volume is the ocean fraction, not the corpus.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..functions.geometry import PolygonPack

_SHIFTS = (-360_000_000.0, 0.0, 360_000_000.0)


def _segment_pack(pack: PolygonPack):
    """Flatten the pack into per-polygon µdeg segment arrays + bboxes,
    ordered by ascending country_id (the tie-break order)."""
    order = np.argsort(pack.ids, kind="stable")
    polys = []
    for poly_idx in order:
        ax, ay, bx, by = [], [], [], []
        for ring in pack.rings_of(int(poly_idx)):
            v = np.asarray(ring, dtype=np.float64) * 1e6  # µdeg, exact double op
            nxt = np.roll(v, -1, axis=0)  # wraparound closing segment
            keep = (v[:, 0] != nxt[:, 0]) | (v[:, 1] != nxt[:, 1])
            ax.append(v[keep, 0])
            ay.append(v[keep, 1])
            bx.append(nxt[keep, 0])
            by.append(nxt[keep, 1])
        sax = np.concatenate(ax) if ax else np.zeros(0)
        say = np.concatenate(ay) if ay else np.zeros(0)
        sbx = np.concatenate(bx) if bx else np.zeros(0)
        sby = np.concatenate(by) if by else np.zeros(0)
        if not len(sax):
            continue
        bbox = (
            min(sax.min(), sbx.min()),
            min(say.min(), sby.min()),
            max(sax.max(), sbx.max()),
            max(say.max(), sby.max()),
        )
        polys.append((int(pack.ids[poly_idx]), sax, say, sbx, sby, bbox))
    return polys


def _seg_d2(px: np.ndarray, py: np.ndarray, sax, say, sbx, sby) -> np.ndarray:
    """min over segments of point-segment squared distance, for ONE lon
    shift already applied to px. (n_points, n_segs) intermediate —
    callers chunk if a polygon's ring set is huge."""
    vx = (sbx - sax)[None, :]
    vy = (sby - say)[None, :]
    wx = px[:, None] - sax[None, :]
    wy = py[:, None] - say[None, :]
    len2 = vx * vx + vy * vy
    t = (wx * vx + wy * vy) / len2
    t = np.clip(t, 0.0, 1.0)
    dx = wx - t * vx
    dy = wy - t * vy
    return (dx * dx + dy * dy).min(axis=1)


def _poly_min_d2(px: np.ndarray, py: np.ndarray, sax, say, sbx, sby, chunk: int = 4096) -> np.ndarray:
    """min over segments AND the three lon shifts; segment-chunked so the
    (points x segs) intermediate stays bounded for detailed coastlines."""
    best = np.full(len(px), np.inf)
    for lo in range(0, len(sax), chunk):
        hi = lo + chunk
        for s in _SHIFTS:
            d2 = _seg_d2(px + s, py, sax[lo:hi], say[lo:hi], sbx[lo:hi], sby[lo:hi])
            np.minimum(best, d2, out=best)
    return best


def _bbox_lower_bound(px: np.ndarray, py: np.ndarray, bbox) -> np.ndarray:
    """Distance lower bound to the polygon's bbox (min over lon shifts) —
    valid because every polygon point lies inside its bbox."""
    xmin, ymin, xmax, ymax = bbox
    dy = np.maximum(0.0, np.maximum(ymin - py, py - ymax))
    dx = np.full(len(px), np.inf)
    for s in _SHIFTS:
        sx = px + s
        np.minimum(dx, np.maximum(0.0, np.maximum(xmin - sx, sx - xmax)), out=dx)
    return dx * dx + dy * dy


def nearest_polygon_kernel(
    lon_e6: np.ndarray, lat_e6: np.ndarray, polys, max_d2: int | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """(nearest_country_id, floored_d2) per point; (-1, -1) when max_d2
    excludes everything. Pure numpy — shared by the Spark kernel and the
    pytest brute-force comparison."""
    n = len(lon_e6)
    px = lon_e6.astype(np.float64)  # exact: |µdeg| < 2^53
    py = lat_e6.astype(np.float64)
    best = np.full(n, np.iinfo(np.int64).max, dtype=np.int64)
    best_cid = np.full(n, -1, dtype=np.int64)
    for cid, sax, say, sbx, sby, bbox in polys:  # ascending country_id
        lb = _bbox_lower_bound(px, py, bbox)
        m = lb < best + 1.0  # lb >= best+1 => floor(d2) >= best+1: can't win
        if max_d2 is not None:
            m &= lb <= float(max_d2)
        if not m.any():
            continue
        fd2 = np.floor(_poly_min_d2(px[m], py[m], sax, say, sbx, sby)).astype(np.int64)
        upd = fd2 < best[m]  # strict: earlier (smaller) cid keeps ties
        idx = np.flatnonzero(m)[upd]
        best[idx] = fd2[upd]
        best_cid[idx] = cid
    if max_d2 is not None:
        out = best > max_d2
        best_cid[out] = -1
        best[out] = -1
    return best_cid, best


def nearest_polygon(
    spark: SparkSession,
    points: DataFrame,
    pack: PolygonPack,
    lat_e6_col: str = "lat_e6",
    lon_e6_col: str = "lon_e6",
    out_col: str = "nearest_country_id",
    d2_col: str = "nearest_d2",
    max_d2: int | None = None,
) -> DataFrame:
    """Append (out_col, d2_col) to `points`: nearest polygon by floored
    squared µdeg distance and that distance; both -1 when `max_d2`
    excludes every polygon. Map-only (mapInPandas + broadcast segment
    pack); all input columns pass through unchanged."""
    polys = _segment_pack(pack)
    bc = spark.sparkContext.broadcast((polys, max_d2))
    schema = T.StructType(
        list(points.schema.fields)
        + [T.StructField(out_col, T.LongType()), T.StructField(d2_col, T.LongType())]
    )

    def _nearest_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # name shows up in the physical plan (MapInPandas _nearest_batches)
        # — plan audits key on it
        pl, md2 = bc.value
        for pdf in batches:
            cid, d2 = nearest_polygon_kernel(
                pdf[lon_e6_col].to_numpy(np.int64),
                pdf[lat_e6_col].to_numpy(np.int64),
                pl,
                max_d2=md2,
            )
            pdf[out_col] = cid
            pdf[d2_col] = d2
            yield pdf

    return points.mapInPandas(_nearest_batches, schema=schema)
