"""Polygon dimension prep: pack + quadtree cell cover (build-time).

Reference analog: boundary import + repair + the 24-zone priority grid +
GiST index (bin/lib/functionsProcess.sh:1544-2054,
sql/functionsProcess_31_organizeAreas_2DGrid.sql,
sql/process/processPlanetNotes_25_createCountryTables.sql:117-118).
Here the polygon dimension is prepped ONCE on the driver (admin-0 scale:
a few hundred polygons) into:

1. a `PolygonPack` (flat numpy arrays) for exact PIP refinement, and
2. a quadtree cell cover: one (cell, priority, country_id, full) row per
   polygon per geocell at the cover level. `full=true` cells prove
   containment with no exact test (the quadtree interior), so only
   boundary-cell points pay for point-in-polygon.

Both are tiny (≈10⁴–10⁶ cover rows) and ride to executors as one
broadcast (operators/spatial_join._CoverLookup); the 100 TB fact side
never shuffles for assignment.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.geometry import PolygonPack, cover_polygon

DEFAULT_COVER_LEVEL = 9


@dataclass
class PolygonIndex:
    pack: PolygonPack
    level: int
    # parallel arrays: one row per (cell, polygon) cover entry
    cells: np.ndarray
    country_ids: np.ndarray
    priorities: np.ndarray
    fulls: np.ndarray

    @property
    def n_cover_rows(self) -> int:
        return len(self.cells)


def prep_polygons(
    polys: list[dict],
    level: int = DEFAULT_COVER_LEVEL,
    simplify_tol: float | None = None,
) -> PolygonIndex:
    """simplify_tol (opt-in): Douglas-Peucker the dimension at this
    tolerance (degrees) before packing — smaller broadcast pack, cheaper
    refine, answers identical except within `tol` of a boundary
    (functions/geometry.simplify_polys documents the trade)."""
    if simplify_tol is not None:
        from ..functions.geometry import simplify_polys

        polys = simplify_polys(polys, simplify_tol)
    pack = PolygonPack.build(polys)
    cells, cids, prios, fulls = [], [], [], []
    for i, p in enumerate(polys):
        full, partial = cover_polygon(p["rings"], level)
        for arr, is_full in ((full, True), (partial, False)):
            cells.append(arr)
            cids.append(np.full(len(arr), p["country_id"], dtype=np.int64))
            prios.append(np.full(len(arr), p.get("priority", 0), dtype=np.int64))
            fulls.append(np.full(len(arr), is_full, dtype=bool))
    return PolygonIndex(
        pack=pack,
        level=level,
        cells=np.concatenate(cells) if cells else np.zeros(0, dtype=np.int64),
        country_ids=np.concatenate(cids) if cids else np.zeros(0, dtype=np.int64),
        priorities=np.concatenate(prios) if prios else np.zeros(0, dtype=np.int64),
        fulls=np.concatenate(fulls) if fulls else np.zeros(0, dtype=bool),
    )


# ------------------------------------------------------- distributed prep
#
# The driver path above collects rings and builds quadtree covers in a
# Python loop — fine for admin-0 (~250 polygons, documented), a driver
# bottleneck for admin-2 worldwide (~50k multipolygons) or parcel data.
# The distributed path keeps the dimension in a DataFrame end-to-end:
# ring rows (one per ring, straight from sources/geojson.
# read_geojson_features — no .collect()) → applyInPandas per feature on
# EXECUTORS computing split/repair/cover → a flat cover table where each
# partial (boundary) cell also carries the polygon fragment clipped to
# its grown cell box. Refinement then needs no global PolygonPack
# broadcast: points meet their cell's fragments in a cogrouped PIP
# (operators/spatial_join.assign_countries_distributed).
#
# Reference analog: Postgres ingested boundaries set-based
# (bin/lib/functionsProcess.sh:1841-1845) — the reference never had a
# driver-resident geometry step; this path restores that property.

# Grown-box epsilon for fragment clipping: cell bounds at any level are
# multiples of 180/2^level degrees = half-µdeg multiples (e.g. level 9:
# 0.3515625° = 351562.5 µdeg), and refinement points sit on the µdeg
# lattice (extract rounds to e6 integers). Growing by a QUARTER µdeg
# keeps every lattice point strictly inside the grown box and off the
# introduced clip edges (351562.5k ± 0.25 is never an integer), so the
# boundary-excluded PIP convention cannot flip on a clip artifact.
CLIP_EPS = 2.5e-7

_RING_ROWS_SCHEMA = T.StructType(
    [
        T.StructField("country_id", T.LongType(), False),
        T.StructField("priority", T.LongType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("part", T.LongType(), False),
        T.StructField("ring", T.LongType(), False),
        T.StructField("lons", T.ArrayType(T.DoubleType()), False),
        T.StructField("lats", T.ArrayType(T.DoubleType()), False),
    ]
)

_COVER_FRAG_SCHEMA = T.StructType(
    [
        T.StructField("cell", T.LongType(), False),
        T.StructField("priority", T.LongType(), False),
        T.StructField("country_id", T.LongType(), False),
        T.StructField("full", T.BooleanType(), False),
        # partial cells only: fragment rings clipped to the grown cell
        # box, each ring flattened [x0,y0,x1,y1,...]; null for full cells
        T.StructField("frag", T.ArrayType(T.ArrayType(T.DoubleType())), True),
    ]
)


def ring_rows_df(
    spark: SparkSession, polys: list[dict], densify_bands: bool = True
) -> DataFrame:
    """Driver-side list-of-polygons → ring-rows DataFrame (the same shape
    read_geojson_features emits) — for tests/gates and small dims; large
    dims should come straight from the GeoJSON reader.

    densify_bands: full-longitude planar bands (polar caps) must arrive
    DENSIFIED so the antimeridian splitter downstream does not read
    their >180° planar edges as seam crossings — the same encoding
    contract world_to_geojson_lines applies when writing GeoJSON
    fixtures. Default on (the synthetic world is all bands/normal
    rings); pass False when feeding raw CROSSING encodings, whose >180°
    jump edges ARE the splitter's signal and must not be subdivided."""
    from .geojson import _densify

    rows = []
    for p in polys:
        for ri, r in enumerate(p["rings"]):
            rr = np.asarray(r, dtype=np.float64)
            if densify_bands:
                rr = _densify(rr)
            rows.append(
                (
                    int(p["country_id"]),
                    int(p.get("priority", 0)),
                    p.get("name", str(p["country_id"])),
                    0,
                    ri,
                    [float(v) for v in rr[:, 0]],
                    [float(v) for v in rr[:, 1]],
                )
            )
    return spark.createDataFrame(rows, schema=_RING_ROWS_SCHEMA)


def prep_polygons_distributed(
    spark: SparkSession,
    ring_rows: DataFrame,
    level: int = DEFAULT_COVER_LEVEL,
    autosplit: bool = True,
    repair: bool = True,
) -> DataFrame:
    """Ring rows → flat cover table (cell, priority, country_id, full,
    frag), computed ON EXECUTORS (one applyInPandas group per feature).

    Identical cover cells/flags to the driver path (`prep_polygons` runs
    the same deterministic split/repair/cover per polygon); additionally
    each partial cell carries its clipped geometry fragment so the
    assignment refine step is cell-local. Grouping key is country_id —
    one task per feature, no driver loop, no ring collect.
    """
    import pandas as pd

    from ..functions.cells import cell_bounds
    from ..functions.geometry import clip_rings_box, cover_polygon
    from ..functions.geometry import repair_rings as _repair
    from .geojson import split_antimeridian

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["part", "ring"])
        cid = int(pdf["country_id"].iloc[0])
        prio = int(pdf["priority"].iloc[0])
        rings = [
            np.stack(
                [np.asarray(lons, dtype=np.float64), np.asarray(lats, dtype=np.float64)], axis=1
            )
            for lons, lats in zip(pdf["lons"], pdf["lats"])
        ]
        if autosplit:
            # SPLIT FIRST on the raw rings, same order as the driver
            # loader (load_polygons_geojson): the >180° jump edges ARE
            # the crossing signal — densifying here would subdivide them
            # below the threshold and silently index a 340°-wide planar
            # artifact. Full-longitude planar bands must arrive
            # pre-densified from the source (ring_rows_df /
            # world_to_geojson_lines encoding contract).
            rings, _did, unsplittable = split_antimeridian(rings)
            if unsplittable:
                # no stats channel on executors — fail loud rather than
                # silently cover geometry with wrong cross-seam
                # containment (driver path: on_error='fail' raises too)
                raise ValueError(
                    f"feature country_id={cid}: ring crosses the antimeridian "
                    "but its unwrapped lon span is >= 180° — cannot be "
                    "auto-split; pre-split the geometry before distributed prep"
                )
        if repair:
            rings, _method = _repair(rings)
        out = {"cell": [], "priority": [], "country_id": [], "full": [], "frag": []}
        if rings:
            full, partial = cover_polygon(rings, level)
            for c in full:
                out["cell"].append(int(c))
                out["priority"].append(prio)
                out["country_id"].append(cid)
                out["full"].append(True)
                out["frag"].append(None)
            for c in partial:
                lon_min, lat_min, lon_max, lat_max = (float(v) for v in cell_bounds(int(c)))
                frag = clip_rings_box(
                    rings,
                    lon_min - CLIP_EPS,
                    lat_min - CLIP_EPS,
                    lon_max + CLIP_EPS,
                    lat_max + CLIP_EPS,
                )
                out["cell"].append(int(c))
                out["priority"].append(prio)
                out["country_id"].append(cid)
                out["full"].append(False)
                out["frag"].append([ring.ravel().tolist() for ring in frag])
        return pd.DataFrame(out)

    return ring_rows.groupBy("country_id").applyInPandas(build, schema=_COVER_FRAG_SCHEMA)


def candidates_from_cover(cover: DataFrame) -> DataFrame:
    """cell → priority-sorted candidate array, as a Spark aggregation
    (the shuffle-side twin of `_CoverLookup`'s driver-side numpy sort).
    One shuffle at PREP time; the shuffle-side assignment path
    (operators/spatial_join.assign_countries_distributed) joins the
    points against the result."""
    return cover.groupBy("cell").agg(
        F.sort_array(F.collect_list(F.struct("priority", "country_id", "full"))).alias("cands")
    )

