"""The core operator: point-in-polygon spatial join (country assignment).

Reference semantics (sql/functionsProcess_21_createFunctionToGetCountry.sql):
per-point loop over zone-priority-ordered candidate polygons, first
ST_Contains match wins, −1 if nothing matches (:32,223). The reference
needs 3 hours for 4.8M points on a 16-thread Postgres host
(README.md:140-142, ≈445 points/s).

Spark-first re-expression — designed so the FACT SIDE NEVER SHUFFLES:

1. the prepped cover (cell → priority-sorted candidates) and the
   `PolygonPack` are broadcast once per call as one `_CoverLookup`;
2. points stream through ONE Arrow-batched `mapInArrow`: numpy encodes
   each point's geocell and finds its candidate slice by searchsorted
   over the sorted cover cells;
3. the candidate list is priority-sorted, so the first `full` candidate
   wins unless a higher-priority `partial` (boundary-cell) candidate
   precedes it; only rows with such contenders run the vectorized
   even-odd PIP (a small fraction at level ≥ 8 — the analog of the
   reference's 95% fast-path hit rate, functionsProcess_21...sql:41-58);
4. winner = first contained candidate in (priority, country_id) order;
   −1 when no candidate contains the point.

The same kernel (`_assign_block`) runs inside the fused extract+assign
pass (operators/fused.py), so both entry points share one assignment.

At 100 TB this is a single map-only stage over the pages scan: no
shuffle, no skew sensitivity (hot cells cost nothing extra — the cover
rides along as a broadcast, never repartitioned by key).

One shuffle-side path, `assign_countries_distributed`, picks winners
another way, independently of the kernel (the tests hold it equal to
it): it reads an executor-built cover and refines cell-locally against
clipped fragments, the only path with no driver-resident geometry
(admin-2 worldwide, parcel-scale dims). `_resolve_candidates` joins each
point to its cell's priority-sorted candidate list and derives, in the
JVM, the fallback (first full candidate, else NO_MATCH) and the
contenders (partial candidates before it); `_first_contained_winner`
then takes the first contender that contains the point.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.cells import cell_col, encode
from ..functions.geometry import PolygonPack, points_in_rings
from ..sources.polygons import PolygonIndex, candidates_from_cover

NO_MATCH = -1  # reference: get_country returns -1 (…sql:32,223)


class _CoverLookup:
    """The assignment kernel's broadcast payload: the cover sorted by
    (cell, priority, country_id) plus the PolygonPack for exact PIP.

    For each unique cover cell, [starts, ends) slices its candidates.
    Lookup = searchsorted — O(log n) per point, fully vectorized.
    """

    def __init__(self, index: PolygonIndex):
        self.level = index.level
        order = np.lexsort((index.country_ids, index.priorities, index.cells))
        cells = index.cells[order]
        self.cids = index.country_ids[order]
        self.fulls = index.fulls[order]
        self.uniq_cells, self.starts = np.unique(cells, return_index=True)
        self.ends = np.append(self.starts[1:], len(cells))
        self.pack: PolygonPack = index.pack
        self.idx_of = self.pack.index_of_id()


def _cover_broadcast(spark: SparkSession, index: PolygonIndex):
    """Build and broadcast the kernel payload — the one place both
    `assign_countries` and `fused_extract_assign` get it from."""
    return spark.sparkContext.broadcast(_CoverLookup(index))


def _assign_block(lk: _CoverLookup, lats: np.ndarray, lons: np.ndarray, located: np.ndarray):
    """Vectorized assignment for one batch → (cell, country_id,
    n_candidates, refined). Rows outside `located` (no coordinates) get
    cell 0, NO_MATCH, 0 candidates and refined=False; callers mask them.
    """
    n = len(lats)
    cell = np.zeros(n, dtype=np.int64)
    country = np.full(n, NO_MATCH, dtype=np.int64)
    ncand = np.zeros(n, dtype=np.int32)
    refined = np.zeros(n, dtype=bool)
    loc = np.flatnonzero(located)
    cell[loc] = encode(lats[loc], lons[loc], lk.level)
    if len(lk.uniq_cells) == 0:
        return cell, country, ncand, refined
    pos = np.minimum(np.searchsorted(lk.uniq_cells, cell[loc]), len(lk.uniq_cells) - 1)
    in_cover = lk.uniq_cells[pos] == cell[loc]
    hit, pos = loc[in_cover], pos[in_cover]
    base = lk.starts[pos]
    width = lk.ends[pos] - base
    ncand[hit] = width
    # one pass per candidate-list width: a (rows × width) matrix of
    # candidate slots, so pure full-cell rows resolve without a PIP test
    for w in np.unique(width):
        sel = width == w
        rows, b = hit[sel], base[sel]
        fl = lk.fulls[b[:, None] + np.arange(w)]
        has_full = fl.any(axis=1)
        first_full = np.where(has_full, fl.argmax(axis=1), w)
        # fallback: the first full candidate (else NO_MATCH) ...
        country[rows[has_full]] = lk.cids[b[has_full] + first_full[has_full]]
        # ... unless a partial candidate before it contains the point
        refined[rows[first_full > 0]] = True
        decided = np.zeros(len(rows), dtype=bool)
        for j in range(int(first_full.max())):
            active = np.flatnonzero(~decided & (j < first_full))
            cand = lk.cids[b[active] + j]
            for cid in np.unique(cand):
                sub = active[cand == cid]
                r = rows[sub]
                inside = lk.pack.contains(lk.idx_of[int(cid)], lons[r], lats[r])
                country[r[inside]] = cid
                decided[sub[inside]] = True
    return cell, country, ncand, refined


def _first_contained_winner(
    lons: np.ndarray,
    lats: np.ndarray,
    contenders: "pa.ListArray | pa.ChunkedArray",
    fallback: np.ndarray,
    contains_fn,
) -> np.ndarray:
    """Winner pick for the shuffle-side path: per row, the FIRST entry
    of its contender list (`_resolve_candidates`' `_contender_ids`,
    already in (priority, country_id) order) that contains the point;
    else the row's fallback.

    contains_fn(cid, lons, lats) -> bool array: the distributed refine
    tests the candidate's clipped cell fragment. Vectorized over all
    rows listing each candidate — never per-row.
    """
    best = np.asarray(fallback, dtype=np.int64).copy()
    ids = pc.list_flatten(contenders).to_numpy(zero_copy_only=False)
    row = pc.list_parent_indices(contenders).to_numpy(zero_copy_only=False)
    inside = np.zeros(len(ids), dtype=bool)
    for cid in np.unique(ids):
        m = ids == cid
        inside[m] = contains_fn(int(cid), lons[row[m]], lats[row[m]])
    # entries are flattened row by row in list order: the first
    # contained entry of each row is its winner
    won, first = np.unique(row[inside], return_index=True)
    best[won] = ids[inside][first]
    return best


def _resolve_candidates(joined: DataFrame) -> DataFrame:
    """JVM-side resolution over the priority-sorted candidate array:
    best full candidate = first with full=true; contenders = partial
    candidates strictly before it in sort order. Adds _fallback,
    _contender_ids, n_candidates, refined, for the shuffle-side path."""
    full_only = F.filter(F.col("cands"), lambda c: c["full"])
    best_full = F.when(F.size(full_only) > 0, F.element_at(full_only, 1))
    fallback = F.coalesce(best_full["country_id"], F.lit(NO_MATCH))
    contenders = F.when(
        F.col("cands").isNotNull(),
        F.filter(
            F.col("cands"),
            lambda c: (~c["full"])
            & (
                F.coalesce(
                    (c["priority"] < best_full["priority"])
                    | ((c["priority"] == best_full["priority"]) & (c["country_id"] < best_full["country_id"])),
                    F.lit(True),
                )
            ),
        ),
    ).otherwise(F.array().cast("array<struct<priority:long,country_id:long,full:boolean>>"))

    return (
        joined.withColumn("_fallback", fallback)
        .withColumn("_contender_ids", F.transform(contenders, lambda c: c["country_id"]))
        .withColumn("n_candidates", F.coalesce(F.size("cands"), F.lit(0)))
        .withColumn("refined", F.size("_contender_ids") > 0)
    )


def assign_countries(
    spark: SparkSession,
    points: DataFrame,
    index: PolygonIndex,
    id_col: str = "id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """points → (id, [keep_cols...], lat, lon, cell, country_id, n_candidates, refined).

    Rows with null lat get cell and country_id = NULL (page had no
    coordinates); rows matching no polygon get NO_MATCH (−1). One
    mapInArrow runs `_assign_block` on the Arrow buffers; the id and
    keep columns pass through untouched.
    """
    pts = points.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in keep_cols],
        F.col(lat_col).alias("lat"),
        F.col(lon_col).alias("lon"),
    )
    schema = T.StructType(
        pts.schema.fields
        + [
            T.StructField("cell", T.LongType()),
            T.StructField("country_id", T.LongType()),
            T.StructField("n_candidates", T.IntegerType(), False),
            T.StructField("refined", T.BooleanType()),
        ]
    )
    bc = _cover_broadcast(spark, index)

    def assign(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        lk: _CoverLookup = bc.value
        for b in batches:
            lat, lon = b.column("lat"), b.column("lon")
            no_lat = lat.is_null().to_numpy(zero_copy_only=False)
            located = pc.and_(lat.is_valid(), lon.is_valid()).to_numpy(zero_copy_only=False)
            cell, country, ncand, refined = _assign_block(
                lk,
                pc.cast(lat, pa.float64()).to_numpy(zero_copy_only=False),
                pc.cast(lon, pa.float64()).to_numpy(zero_copy_only=False),
                located,
            )
            yield pa.RecordBatch.from_arrays(
                b.columns
                + [
                    pa.array(cell, mask=~located),
                    pa.array(country, mask=no_lat),
                    pa.array(ncand),
                    pa.array(refined),
                ],
                names=schema.fieldNames(),
            )

    return pts.mapInArrow(assign, schema)


def assignment_metrics(assigned: DataFrame) -> DataFrame:
    """The `tries` table analog (sql/process/processPlanetNotes_25_createCountryTables.sql:125-130):
    per-country candidate/refinement statistics, as an explicit aggregation."""
    return assigned.groupBy("country_id").agg(
        F.count("*").alias("n_points"),
        F.avg("n_candidates").alias("avg_candidates"),
        F.max("n_candidates").alias("max_candidates"),
        F.sum(F.col("refined").cast("long")).alias("n_refined"),
    )


def assign_countries_distributed(
    spark: SparkSession,
    points: DataFrame,
    cover: DataFrame,
    level: int,
    id_col: str = "id",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Assignment against a DISTRIBUTED cover table
    (sources/polygons.prep_polygons_distributed) — no driver-resident
    geometry, no global PolygonPack broadcast.

    Same output contract as `assign_countries` (id, lat, lon, cell,
    country_id, n_candidates, refined). Differences in the plan:

    - the cover is materialized once per call (local checkpoint), so
      its per-feature prep runs once although both the candidates and
      the fragments read it; the resolved points are materialized the
      same way, so the points' plan (an extraction, say) runs once
      although both the fast and the refined branch read them;
    - candidates come from a Spark aggregation over the cover table
      (one prep-time shuffle), always broadcast to the points;
    - exact PIP refinement is CELL-LOCAL: points needing refinement
      cogroup with their cell's clipped polygon fragments
      (cover.frag) — one Arrow row per refined point plus one per
      (cell, polygon) fragment, never whole-country geometry. Skew is
      bounded by points-per-boundary-cell (area-bounded), not
      points-per-country — the reference's USA problem cannot recur
      (bin/lib/functionsProcess.sh:2496-2690 chunks by id to dodge it;
      here the key itself is fine-grained). The refine runs
      `defaultParallelism` tasks, whatever the shuffle's size.

    Parity with the broadcast path: clipped-fragment PIP equals
    whole-polygon PIP for lattice points strictly inside the grown cell
    box (functions/geometry.clip_rings_box; sources/polygons.CLIP_EPS).
    Winners resolve through _resolve_candidates + _first_contained_winner,
    independently of the broadcast kernel; tests/test_distributed_prep.py
    holds the two equal.
    """
    cover = cover.localCheckpoint(eager=True)
    pts = points.select(
        F.col(id_col).alias("id"),
        F.col(lat_col).alias("lat"),
        F.col(lon_col).alias("lon"),
    ).withColumn("cell", cell_col(F.col("lat"), F.col("lon"), level))
    resolved = _resolve_candidates(
        pts.join(F.broadcast(candidates_from_cover(cover)), "cell", "left")
    ).localCheckpoint(eager=True)

    fast = resolved.where(~F.col("refined")).select(
        "id",
        "lat",
        "lon",
        "cell",
        F.when(F.col("lat").isNull(), F.lit(None).cast("long"))
        .otherwise(F.col("_fallback"))
        .alias("country_id"),
        "n_candidates",
        "refined",
    )

    # both sides hash by cell into one partition per core: AQE would
    # coalesce this small shuffle by bytes into one task, while the
    # stage's cost is Python PIP time per refined point. AQE keeps a
    # repartition's partition count, and the cogroup reuses the
    # partitioning without another exchange
    n_parts = spark.sparkContext.defaultParallelism
    need = resolved.where(F.col("refined")).select(
        "id", "lat", "lon", "cell", "_contender_ids", "_fallback", "n_candidates"
    ).repartition(n_parts, "cell")
    frags = cover.where(~F.col("full")).select("cell", "country_id", "frag").repartition(n_parts, "cell")

    out_ddl = "id long, lat double, lon double, cell long, country_id long, n_candidates int, refined boolean"
    out_schema = pa.schema([
        ("id", pa.int64()), ("lat", pa.float64()), ("lon", pa.float64()), ("cell", pa.int64()),
        ("country_id", pa.int64()), ("n_candidates", pa.int32()), ("refined", pa.bool_()),
    ])

    # Arrow, not pandas: the cogroup also calls this once per fragment
    # cell without refined points, and a pandas conversion per such call
    # made those empty calls the bulk of the stage
    def refine_cell(pts: pa.Table, frag: pa.Table) -> pa.Table:
        if pts.num_rows == 0:
            return out_schema.empty_table()
        frag_rings = {
            cid: [np.asarray(r, dtype=np.float64).reshape(-1, 2) for r in rings or []]
            for cid, rings in zip(frag["country_id"].to_pylist(), frag["frag"].to_pylist())
        }

        def contains_fn(cid: int, lons: np.ndarray, lats: np.ndarray) -> np.ndarray:
            rings = frag_rings.get(cid, [])
            if not rings:
                return np.zeros(len(lons), dtype=bool)
            return points_in_rings(lons, lats, rings)

        best = _first_contained_winner(
            pts["lon"].to_numpy(),
            pts["lat"].to_numpy(),
            pts["_contender_ids"],
            pts["_fallback"].to_numpy(),
            contains_fn,
        )
        return pa.table(
            [pts["id"], pts["lat"], pts["lon"], pts["cell"], best,
             pts["n_candidates"], np.ones(pts.num_rows, dtype=bool)],
            names=out_schema.names,
        ).cast(out_schema)

    slow = (
        need.groupBy("cell")
        .cogroup(frags.groupBy("cell"))
        .applyInArrow(refine_cell, schema=out_ddl)
    )
    return fast.select(
        "id", "lat", "lon", "cell", "country_id", F.col("n_candidates").cast("int"), "refined"
    ).unionByName(slow)

