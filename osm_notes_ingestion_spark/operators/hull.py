"""Per-key convex hull aggregate: the coverage footprint of a key's
points (country, cluster, host, ...) as a convex polygon.

Reference analog: the reference renders per-country note coverage by
joining notes to the country polygon (the dimension is given); the
inverse question — "what area do this key's points actually span?" —
needs a hull AGGREGATE the reference has no analog for (PostGIS would
use ST_ConvexHull over a collected geometry).

Scale design — the hull is a mergeable aggregate:
hull(A ∪ B) = hull(vertices(hull(A)) ∪ vertices(hull(B))), so the
classic two-stage pattern applies exactly like partial sums: stage 1
computes a partial hull per (key, salt) group — the salt shards a hot
key's points across reducers, and each partial collapses its shard to
≤ its hull vertices (typically tens, even for millions of points) —
stage 2 merges the ≤ salt × |partial vertices| survivors per key. No
key ever materializes its full point set in one task, which is what
makes this safe for a key holding half the corpus. Both stages are
Arrow-batched applyInPandas with numpy monotone-chain interiors — no
per-row Python.

Geometry is planar in (lon, lat) degrees — fine for footprint QA and
bbox-scale reasoning; keys straddling the antimeridian produce a hull
spanning the long way around (same planar convention as the measures
module's non-spherical path; split at ±180 upstream if that matters).

Determinism: vertices start at the lexicographically smallest
(lon, lat) point and proceed counter-clockwise; collinear edge points
are dropped (strict hull), duplicates collapse. Output is a pure
function of the input SET — independent of partitioning, salt, or
arrival order (pinned in tests/test_hull.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HULL_SCHEMA = (
    "key long, hull array<struct<lon: double, lat: double>>, "
    "n_vertices int, area_deg2 double"
)
_PARTIAL_SCHEMA = "key long, lon double, lat double"


def hull_np(lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    """Monotone-chain convex hull -> (m, 2) array of (lon, lat) CCW from
    the lexicographically smallest point. Strict (collinear interior
    points dropped); 1- and 2-point degenerate sets pass through."""
    pts = np.unique(np.stack([np.asarray(lon, np.float64), np.asarray(lat, np.float64)], axis=1), axis=0)
    n = len(pts)
    if n <= 2:
        return pts

    def _cross(o, a, b):
        # 2D cross product (np.cross on 2-vectors is deprecated)
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    def _chain(p):
        out: list[np.ndarray] = []
        for q in p:
            while len(out) >= 2 and _cross(out[-2], out[-1], q) <= 0:
                out.pop()
            out.append(q)
        return out

    lower = _chain(pts)
    upper = _chain(pts[::-1])
    # collinear input degenerates to the two endpoints (each chain keeps
    # exactly [first, last]); the general case concatenates CCW
    return np.array(lower[:-1] + upper[:-1])


def _shoelace(hull: np.ndarray) -> float:
    if len(hull) < 3:
        return 0.0
    x, y = hull[:, 0], hull[:, 1]
    return float(0.5 * abs(np.dot(x, np.roll(y, -1)) - np.dot(np.roll(x, -1), y)))


def convex_hull(
    points: DataFrame,
    key_col: str = "country_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    salt: int = 16,
) -> DataFrame:
    """(key, hull, n_vertices, area_deg2) — one row per key.

    salt: stage-1 shard count per key. More shards = smaller stage-1
    tasks under skew, at the cost of (salt x hull-size) stage-2 rows
    per key — stage-2 input stays tiny either way because each shard
    already collapsed to its hull vertices.
    """
    pts = points.where(F.col(lat_col).isNotNull() & F.col(lon_col).isNotNull()).select(
        F.col(key_col).cast("long").alias("key"),
        F.col(lon_col).cast("double").alias("lon"),
        F.col(lat_col).cast("double").alias("lat"),
    )

    def _partial(pdf: pd.DataFrame) -> pd.DataFrame:
        h = hull_np(pdf["lon"].to_numpy(), pdf["lat"].to_numpy())
        return pd.DataFrame({"key": pdf["key"].iloc[0], "lon": h[:, 0], "lat": h[:, 1]})

    def _final(pdf: pd.DataFrame) -> pd.DataFrame:
        h = hull_np(pdf["lon"].to_numpy(), pdf["lat"].to_numpy())
        return pd.DataFrame(
            {
                "key": [pdf["key"].iloc[0]],
                "hull": [[(float(lo), float(la)) for lo, la in h]],
                "n_vertices": [len(h)],
                "area_deg2": [_shoelace(h)],
            }
        )

    salted = pts.withColumn(
        "_salt", F.pmod(F.xxhash64("lon", "lat"), F.lit(salt))
    )
    partials = salted.groupBy("key", "_salt").applyInPandas(_partial, _PARTIAL_SCHEMA)
    return partials.groupBy("key").applyInPandas(_final, HULL_SCHEMA)


def merge_hulls(
    existing: DataFrame,
    delta_points: DataFrame,
    key_col: str = "country_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    salt: int = 16,
) -> DataFrame:
    """Incremental footprint maintenance: published hulls + a batch of
    new points -> updated hulls. Mergeability again does the work: a
    stored hull's VERTICES are a lossless summary of its key's history
    for hull purposes, so the update is convex_hull(old vertices ∪ new
    points) — the batch, never the corpus, is re-processed. Keys absent
    from the delta pass through untouched (semi/anti-join split on the
    delta's key set, broadcast-sized by construction); incremental ≡
    full-recompute is pinned in tests/test_hull.py. The split is
    null-safe: a null key is one more key (a plain equi-join never
    matches it, so every merge would add another null-key hull).

    Hulls only grow: point DELETION is not expressible (a hull is not
    an invertible sketch) — the same contract as the reference's
    append-only note stream; rebuild from facts for retractions.

    Reference analog: trigger-maintained derived state
    (processPlanetNotes_22_createBaseTables_tables.sql:249-347) — the
    same merge shape as merge_tile_counts and the streaming cluster
    store's generation fold.
    """
    dkeys = delta_points.select(F.col(key_col).cast("long").alias("_dkey")).distinct()
    in_delta = F.col("key").eqNullSafe(F.col("_dkey"))
    old_pts = (
        existing.join(dkeys, in_delta, "left_semi")
        .select("key", F.explode("hull").alias("v"))
        .select(
            "key",
            F.col("v.lon").alias("lon"),
            F.col("v.lat").alias("lat"),
        )
    )
    new_pts = delta_points.where(
        F.col(lat_col).isNotNull() & F.col(lon_col).isNotNull()
    ).select(
        F.col(key_col).cast("long").alias("key"),
        F.col(lon_col).cast("double").alias("lon"),
        F.col(lat_col).cast("double").alias("lat"),
    )
    updated = convex_hull(
        old_pts.unionByName(new_pts), key_col="key", lat_col="lat", lon_col="lon", salt=salt
    )
    return existing.join(dkeys, in_delta, "left_anti").unionByName(updated)
