"""Raster-tile aggregation: web-mercator z/x/y rollups of page counts.

Reference analog: the WMS render layer — wms.notes_wms point table +
GeoServer tiling + year-bucket SLD rules (sql/wms/prepareDatabase.sql:32-60,
sld/OpenNotes.sld:15-203). The engine materializes the rollup itself.

Scale design: the multi-zoom count rollup (tile_counts) is one
aggregation over the fact table and one shuffle of tile rows, never of
fact rows. The distinct pyramids (tile_distinct, tile_distinct_hll)
merge up zoom by zoom instead: their rows carry 4 KB bitmaps or
sketches, where a ×zooms multiplier on the shuffle is real.
"""

from __future__ import annotations

import math
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.mercator import tile_x_col, tile_y_col


def tile_counts(
    points: DataFrame,
    max_zoom: int,
    min_zoom: int = 0,
    lat_col: str = "lat",
    lon_col: str = "lon",
    extra_dims: tuple[str, ...] = (),
) -> DataFrame:
    """(z, x, y, [extra_dims...], cnt) for every zoom in [min_zoom, max_zoom].

    extra_dims: optional grouping dimensions carried through every zoom —
    the analog of the reference's year_created_at/year_closed_at buckets
    (sql/wms/prepareDatabase.sql:33-40).

    One aggregation: each point's finest (x, y) is computed in the JVM,
    exploded to its ancestor at every zoom (tile at z = finest tile >>
    (max_zoom − z)), and counted by one groupBy(z, x, y, *extra_dims).
    After map-side partial aggregation the one shuffle carries at most
    (zooms × distinct finest tiles) rows per input partition — bounded
    by the tile grid, not by the fact table.
    """
    pts = points.where(F.col(lat_col).isNotNull() & F.col(lon_col).isNotNull())
    exploded = pts.select(
        F.explode(F.array(*[F.lit(z) for z in range(min_zoom, max_zoom + 1)])).alias("z"),
        tile_x_col(F.col(lon_col), max_zoom).alias("_x"),
        tile_y_col(F.col(lat_col), max_zoom).alias("_y"),
        *[F.col(c) for c in extra_dims],
    ).select(
        "z",
        F.expr(f"shiftright(_x, {max_zoom} - z)").alias("x"),
        F.expr(f"shiftright(_y, {max_zoom} - z)").alias("y"),
        *extra_dims,
    )
    return exploded.groupBy("z", "x", "y", *extra_dims).agg(F.count("*").alias("cnt"))


def check_pyramid(tiles: DataFrame) -> DataFrame:
    """Invariant check: each tile at z = sum of its 4 children at z+1.
    Returns violations (empty ⇒ consistent). Used by tests and as a
    quality gate before publishing a tile snapshot."""
    child = tiles.select(
        (F.col("z") - 1).alias("z"),
        F.shiftright("x", 1).alias("x"),
        F.shiftright("y", 1).alias("y"),
        "cnt",
    ).groupBy("z", "x", "y").agg(F.sum("cnt").alias("child_sum"))
    parent = tiles.select("z", "x", "y", "cnt")
    return (
        parent.join(child, ["z", "x", "y"], "inner")
        .where(F.col("cnt") != F.col("child_sum"))
    )


def merge_tile_counts(existing: DataFrame, delta: DataFrame) -> DataFrame:
    """Incremental tile maintenance: published counts + a new batch's
    delta counts → updated counts (additive merge, map-side combinable).

    Reference analog: the WMS layer is kept in sync by row triggers on
    every insert/update (sql/wms/prepareDatabase.sql:104-121); set-based
    Spark replaces per-row trigger firing with one delta aggregation and
    an additive merge — at 100 TB the delta is the 15-minute batch, not
    the corpus, and the merge shuffles only tile rows (≤4^z), never
    facts. Counts of zero are dropped so retractions (negative deltas)
    can also compact the table.
    """
    dims = [c for c in existing.columns if c != "cnt"]
    return (
        existing.unionByName(delta)
        .groupBy(*dims)
        .agg(F.sum("cnt").alias("cnt"))
        .where(F.col("cnt") != 0)
    )


# ------------------------------------------------------- raster → vector


def dissolve_tiles(tiles: DataFrame, z: int) -> DataFrame:
    """Raster→vector: dissolve 4-connected same-class tiles into regions.

    The inverse direction of tile_counts (vector points → raster tiles):
    given the z-level tile-count raster, classify each tile into an
    exact integer heat class (decimal magnitude of cnt — digit count,
    identical integer op on any engine), connect tiles sharing an edge
    AND a class, and label each connected region. Region identity =
    minimum tile node id (node = x·2^z + y), so output is fully
    deterministic. The reference's WMS layer styles tiles by SLD class
    rules (sld/OpenNotes.sld:15-203) but never merges them; dissolving
    adjacent same-class tiles into vector regions is what a map overlay
    pipeline does downstream of the raster.

    Scale: the tile table at zoom z has ≤ 4^z rows (z=12 → 16M) —
    dwarfed by the fact table that produced it. The neighbor edges come
    from two broadcast-sized equi-joins (shifted key = equality on
    (x+1, y, class)), and the region labels from the published
    large-star/small-star connected-components loop
    (operators/components.py), O(log² tiles) rounds.

    Output (one row per region, all exact integers):
      region_id, bin, n_tiles, pages, x_min, x_max, y_min, y_max
    Degree-space geometry for the regions comes from region_bbox_cols().
    """
    from .components import connected_components

    n = 1 << z
    t = (
        tiles.where(F.col("z") == z)
        .select(
            "x",
            "y",
            "cnt",
            F.length(F.col("cnt").cast("string")).cast("long").alias("bin"),
            (F.col("x") * n + F.col("y")).alias("node"),
        )
    )
    right = t.select(
        F.col("node").alias("nbr"),
        F.col("bin").alias("rbin"),
        F.col("x").alias("rx"),
        F.col("y").alias("ry"),
    )
    e_right = t.join(
        right,
        (t["x"] + 1 == right["rx"]) & (t["y"] == right["ry"]) & (t["bin"] == right["rbin"]),
    ).select(F.col("node").alias("src"), F.col("nbr").alias("dst"))
    e_down = t.join(
        right,
        (t["x"] == right["rx"]) & (t["y"] + 1 == right["ry"]) & (t["bin"] == right["rbin"]),
    ).select(F.col("node").alias("src"), F.col("nbr").alias("dst"))
    labels = connected_components(e_right.union(e_down), nodes=t.select("node"))
    return (
        t.join(labels, "node")
        .groupBy(F.col("comp").alias("region_id"), "bin")
        .agg(
            F.count("*").alias("n_tiles"),
            F.sum("cnt").alias("pages"),
            F.min("x").alias("x_min"),
            F.max("x").alias("x_max"),
            F.min("y").alias("y_min"),
            F.max("y").alias("y_max"),
        )
    )


def region_bbox_cols(regions: DataFrame, z: int) -> DataFrame:
    """Attach the degree-space bounding box of each region (vector side
    of the raster→vector path): web-mercator inverse of the tile extent.
    lat(y) = degrees(atan(sinh(π·(1 − 2y/n)))) with sinh spelled via exp
    so the op order is pinned for the numpy twin (tests)."""
    n = float(1 << z)

    def merc_lat(y_col):
        t = F.lit(math.pi) * (F.lit(1.0) - F.lit(2.0) * y_col / F.lit(n))
        return F.degrees(F.atan((F.exp(t) - F.exp(-t)) / F.lit(2.0)))

    return regions.select(
        "*",
        (F.col("x_min") / F.lit(n) * F.lit(360.0) - F.lit(180.0)).alias("lon_w"),
        ((F.col("x_max") + 1) / F.lit(n) * F.lit(360.0) - F.lit(180.0)).alias("lon_e"),
        merc_lat(F.col("y_min").cast("double")).alias("lat_n"),
        merc_lat((F.col("y_max") + F.lit(1)).cast("double")).alias("lat_s"),
    )


def tile_user_counts(
    points: DataFrame,
    zoom: int,
    user_col: str = "user_id",
    approx: bool = False,
    rsd: float = 0.05,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Distinct-contributor counts per tile: (z, x, y, n_users).

    Reference analog: the dwh datamart's per-dimension user facts
    (sql/dwh/ETL_22_createDWHTables.sql facts tables key on dimension ×
    user). Two modes:
      exact  — COUNT(DISTINCT user): Spark plans the two-phase
        partial-distinct expand; correct but the distinct set per tile
        must materialize through the shuffle. Fine to z≈8; at 100 TB
        with hot tiles it is the skew-heavy shape.
      approx — approx_count_distinct (HyperLogLog++, relative std dev
        rsd): a fixed-size mergeable sketch per tile, ONE map-side
        combinable pass, immune to per-tile cardinality skew. The scale
        default; rank-error bound pinned in tests/test_tiles_knn.py.
    """
    pts = points.where(F.col(lat_col).isNotNull() & F.col(lon_col).isNotNull())
    agg = (
        F.approx_count_distinct(user_col, rsd) if approx else F.countDistinct(user_col)
    ).alias("n_users")
    return (
        pts.select(
            F.lit(zoom).alias("z"),
            tile_x_col(F.col(lon_col), zoom).alias("x"),
            tile_y_col(F.col(lat_col), zoom).alias("y"),
            F.col(user_col),
        )
        .groupBy("z", "x", "y")
        .agg(agg)
    )


# ------------------------------------------- mergeable distinct pyramid


def tile_distinct(
    points: DataFrame,
    max_zoom: int,
    min_zoom: int = 0,
    id_col: str = "user_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    extra_dims: tuple[str, ...] = (),
) -> DataFrame:
    """(z, x, y, [extra_dims...], cnt, uniq) for every zoom in
    [min_zoom, max_zoom] with uniq = EXACT distinct `id_col` per tile.

    extra_dims: optional grouping dimensions carried through every zoom,
    same contract as tile_counts (the year-bucket analog) — distinct is
    then per (tile, dims) cell and merges only within a cell.

    Distinct counts — unlike the additive counts in tile_counts — cannot
    be summed up a pyramid: an id active in two child tiles would be
    double-counted in the parent, so the naive plan re-scans the fact
    table once per zoom (the reference's dwh rebuilds each datamart
    rollup from the fact table for exactly this reason,
    sql/dwh/ETL_24_populateDWHTables.sql). Here each finest tile carries
    a mergeable EXACT distinct set instead: Spark's bitmap functions map
    id -> (bucket = bitmap_bucket_number, bit = bitmap_bit_position)
    bijectively into fixed 4 KB bucket bitmaps, bitmap_construct_agg per
    (tile, bucket) builds the per-tile id-set, parents OR their four
    children's bitmaps (bitmap_or_agg = set union), and
    sum(bitmap_count) per tile reads the exact cardinality. The fact
    table is scanned ONCE for the whole pyramid; every coarser level
    shuffles only (tiles x touched buckets) rows of <= 4 KB each.

    100-TB notes: the bucket dimension shards a hot tile's id-set across
    reducers — a worst-case tile holding the whole id domain costs
    |domain| / 32768 bitmap rows, never one giant row (the skew shape
    that makes exact COUNT(DISTINCT) fall over). For sparse ids the
    per-bucket bitmap still stores 4 KB, so the state is bounded by
    min(|ids|, |domain|/32768 buckets) x 4 KB per tile; for unbounded or
    very sparse id domains prefer tile_distinct_hll (fixed-size sketch
    regardless of domain). Any long id is legal: Spark's
    (bitmap_bucket_number, bitmap_bit_position) pair is bijective over
    the full int64 range — non-positive ids land in bucket <= 0 with
    mirrored positions (probed and pinned in tests).
    """
    pts = points.where(F.col(lat_col).isNotNull() & F.col(lon_col).isNotNull())
    ident = F.col(id_col).cast("long")
    dims = list(extra_dims)
    finest = (
        pts.select(
            F.lit(max_zoom).alias("z"),
            tile_x_col(F.col(lon_col), max_zoom).alias("x"),
            tile_y_col(F.col(lat_col), max_zoom).alias("y"),
            *[F.col(c) for c in dims],
            F.bitmap_bucket_number(ident).alias("bkt"),
            F.bitmap_bit_position(ident).alias("pos"),
        )
        .groupBy("z", "x", "y", *dims, "bkt")
        .agg(F.count("*").alias("cnt"), F.bitmap_construct_agg("pos").alias("bm"))
    )

    def _finish(level: DataFrame) -> DataFrame:
        return level.groupBy("z", "x", "y", *dims).agg(
            F.sum("cnt").alias("cnt"),
            F.sum(F.bitmap_count("bm")).alias("uniq"),
        )

    out = [_finish(finest)]
    cur = finest
    for z in range(max_zoom - 1, min_zoom - 1, -1):
        cur = (
            cur.select(
                F.lit(z).alias("z"),
                F.shiftright("x", 1).alias("x"),
                F.shiftright("y", 1).alias("y"),
                *dims,
                "bkt",
                "cnt",
                "bm",
            )
            .groupBy("z", "x", "y", *dims, "bkt")
            .agg(F.sum("cnt").alias("cnt"), F.bitmap_or_agg("bm").alias("bm"))
        )
        out.append(_finish(cur))
    return reduce(DataFrame.unionByName, out)


def tile_distinct_hll(
    points: DataFrame,
    max_zoom: int,
    min_zoom: int = 0,
    id_col: str = "user_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    lgk: int = 12,
) -> DataFrame:
    """Approx twin of tile_distinct: (z, x, y, cnt, uniq_est) with a
    fixed-size Apache DataSketches HLL sketch per tile instead of exact
    bitmaps. hll_sketch_agg at the finest zoom, hll_union_agg up the
    pyramid, hll_sketch_estimate at read. Union-merged estimates can
    differ from direct per-tile sketching by a few per mille (the two
    paths promote sparse->dense representations at different moments),
    but both stay inside the lgk error bound — the pinned contract is
    accuracy vs the EXACT count at every level
    (tests/test_tile_distinct.py). 2^lgk bytes of state
    per tile regardless of id-domain size; standard error ~= 1.04 /
    sqrt(2^lgk) (~1.6% at the lgk=12 default). Use when the id domain
    is unbounded (url/host strings, 64-bit ids) and exact bitmaps would
    shard into too many buckets; the estimate column is clearly named so
    downstream cannot mistake it for the exact path.
    """
    pts = points.where(F.col(lat_col).isNotNull() & F.col(lon_col).isNotNull())
    finest = (
        pts.select(
            F.lit(max_zoom).alias("z"),
            tile_x_col(F.col(lon_col), max_zoom).alias("x"),
            tile_y_col(F.col(lat_col), max_zoom).alias("y"),
            F.col(id_col).alias("_id"),
        )
        .groupBy("z", "x", "y")
        .agg(
            F.count("*").alias("cnt"),
            F.hll_sketch_agg("_id", F.lit(lgk)).alias("sk"),
        )
    )

    def _finish(level: DataFrame) -> DataFrame:
        return level.select(
            "z", "x", "y", "cnt", F.hll_sketch_estimate("sk").alias("uniq_est")
        )

    out = [_finish(finest)]
    cur = finest
    for z in range(max_zoom - 1, min_zoom - 1, -1):
        cur = (
            cur.select(
                F.lit(z).alias("z"),
                F.shiftright("x", 1).alias("x"),
                F.shiftright("y", 1).alias("y"),
                "cnt",
                "sk",
            )
            .groupBy("z", "x", "y")
            .agg(F.sum("cnt").alias("cnt"), F.hll_union_agg("sk").alias("sk"))
        )
        out.append(_finish(cur))
    return reduce(DataFrame.unionByName, out)
