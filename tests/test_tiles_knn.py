from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from osm_notes_ingestion_spark.functions.mercator import tile_xy_np
from osm_notes_ingestion_spark.operators.extract import extract_pages
from osm_notes_ingestion_spark.operators.knn import knn, knn_brute_force
from osm_notes_ingestion_spark.operators.tiles import check_pyramid, tile_counts
from osm_notes_ingestion_spark.sources.synth import pages_df


@pytest.fixture(scope="module")
def pts(spark, sf_dir):
    return (
        extract_pages(pages_df(spark, sf_dir))
        .where(F.col("has_coords"))
        .select("id", "lat", "lon")
        .cache()
    )


def test_tile_counts_vs_numpy(pts):
    tiles = tile_counts(pts, max_zoom=6, min_zoom=2).toPandas()
    pdf = pts.toPandas()
    for z in range(2, 7):
        x, y = tile_xy_np(pdf["lat"].to_numpy(), pdf["lon"].to_numpy(), z)
        exp = pd.DataFrame({"x": x, "y": y}).value_counts().sort_index()
        got = (
            tiles[tiles["z"] == z]
            .set_index(["x", "y"])["cnt"]
            .sort_index()
        )
        assert got.size == exp.size, f"z={z}: {got.size} tiles vs {exp.size}"
        assert (got.values == exp.values).all(), f"z={z} count mismatch"


def test_pyramid_invariant(pts):
    tiles = tile_counts(pts, max_zoom=6, min_zoom=0)
    assert check_pyramid(tiles).count() == 0
    # total conservation at every zoom
    per_z = tiles.groupBy("z").agg(F.sum("cnt").alias("t")).collect()
    totals = {r.z: r.t for r in per_z}
    assert len(set(totals.values())) == 1


def test_knn_matches_brute_force(spark, pts):
    queries = [(1, 35.0, -100.0), (2, 0.0, 60.0), (3, -5.0, 179.9), (4, 86.0, 10.0)]
    fast = knn(spark, pts, queries, k=5, level=6).toPandas()
    slow = knn_brute_force(pts, queries, k=5).toPandas()
    fast = fast.sort_values(["query_id", "rank"]).reset_index(drop=True)
    slow = slow.sort_values(["query_id", "rank"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(fast[["query_id", "rank", "id", "d2"]], slow[["query_id", "rank", "id", "d2"]])


def test_knn_driver_cap_and_opt_out(spark, pts):
    """The driver-result contract (operators/knn.py): above
    max_driver_queries the list path refuses with a pointer to knn_df;
    max_driver_queries=None opts out (ADVICE r4) and still returns the
    exact brute-force answer."""
    queries = [(1, 35.0, -100.0), (2, 0.0, 60.0), (3, -5.0, 179.9)]
    with pytest.raises(ValueError, match="knn_df"):
        knn(spark, pts, queries, k=2, level=6, max_driver_queries=2)
    fast = knn(spark, pts, queries, k=2, level=6, max_driver_queries=None).toPandas()
    slow = knn_brute_force(pts, queries, k=2).toPandas()
    fast = fast.sort_values(["query_id", "rank"]).reset_index(drop=True)
    slow = slow.sort_values(["query_id", "rank"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        fast[["query_id", "rank", "id", "d2"]], slow[["query_id", "rank", "id", "d2"]]
    )


def test_knn_wraps_antimeridian(spark):
    # two points straddling ±180: the wrap must make them neighbors
    pdf = spark.createDataFrame(
        [(1, 0.0, 179.99), (2, 0.0, -179.99), (3, 0.0, 100.0)],
        "id long, lat double, lon double",
    )
    res = knn(spark, pdf, [(9, 0.0, 179.995)], k=2, level=4).toPandas()
    assert set(res["id"]) == {1, 2}


def test_tile_counts_extra_dims_vs_numpy(pts):
    """Every zoom of a multi-zoom rollup with an extra grouping dim equals
    numpy binning at that zoom, grouped by the same dim."""
    with_dim = pts.withColumn("g", F.col("id") % 3)
    tiles = tile_counts(with_dim, max_zoom=6, min_zoom=0, extra_dims=("g",)).toPandas()
    pdf = with_dim.toPandas()
    assert sorted(tiles["z"].unique()) == list(range(7))
    for z in range(7):
        x, y = tile_xy_np(pdf["lat"].to_numpy(), pdf["lon"].to_numpy(), z)
        exp = pd.DataFrame({"x": x, "y": y, "g": pdf["g"]}).value_counts().sort_index()
        got = tiles[tiles["z"] == z].set_index(["x", "y", "g"])["cnt"].sort_index()
        assert got.size == exp.size, f"z={z}: {got.size} tiles vs {exp.size}"
        assert (got.index == exp.index).all(), f"z={z} tile mismatch"
        assert (got.values == exp.values).all(), f"z={z} count mismatch"


def test_merge_tile_counts_with_retraction(spark):
    """Additive merge handles negative deltas (retractions) and compacts
    zero rows — full ≡ merge(old, delta) is pinned by the
    tiles_incremental oracle; this pins the retraction path."""
    from osm_notes_ingestion_spark.operators.tiles import merge_tile_counts

    old = spark.createDataFrame(
        [(5, 1, 1, 10), (5, 2, 2, 3)], "z int, x long, y long, cnt long"
    )
    delta = spark.createDataFrame(
        [(5, 1, 1, -10), (5, 3, 3, 7)], "z int, x long, y long, cnt long"
    )
    got = {(r.z, r.x, r.y): r.cnt for r in merge_tile_counts(old, delta).collect()}
    assert got == {(5, 2, 2): 3, (5, 3, 3): 7}  # (1,1) compacted away


def test_knn_df_matches_brute_force_incl_antimeridian(spark, sf_dir):
    """DataFrame-of-queries kNN (join-based ring expansion, per-query
    convergence as data) ≡ brute force — including a query next to the
    antimeridian whose ring must wrap."""
    from osm_notes_ingestion_spark.operators.knn import knn_df

    pts = extract_pages(pages_df(spark, sf_dir)).where(F.col("has_coords"))
    qlist = [(1, 35.0, -100.0), (2, 0.0, 60.0), (3, -5.0, 179.9), (4, 88.0, 10.0)]
    qdf = spark.createDataFrame(qlist, "query_id long, qlat double, qlon double")
    got = {
        (r.query_id, r.rank): (r.id, r.d2)
        for r in knn_df(spark, pts, qdf, k=5, level=6).collect()
    }
    want = {
        (r.query_id, r.rank): (r.id, r.d2)
        for r in knn_brute_force(pts, qlist, k=5).collect()
    }
    assert got == want


def test_knn_df_releases_all_intermediate_caches(spark, sf_dir):
    """Cache contract: after knn_df returns, the ONLY persisted data left
    is the materialized result itself — the point index, per-iteration
    query sets and top-k partials are all released (VERDICT r2 #8), so
    repeated invocations don't accumulate session-lifetime caches."""
    from osm_notes_ingestion_spark.operators.knn import knn_df

    def persistent_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    spark.catalog.clearCache()
    before = persistent_ids()
    pts = extract_pages(pages_df(spark, sf_dir)).where(F.col("has_coords"))
    qdf = spark.createDataFrame(
        [(1, 35.0, -100.0), (2, -5.0, 179.9)], "query_id long, qlat double, qlon double"
    )
    out = knn_df(spark, pts, qdf, k=3, level=6)
    assert out.count() == 6
    leftover = persistent_ids() - before
    # the persisted result accounts for at most one new entry
    assert len(leftover) <= 1, f"intermediate caches leaked: {leftover}"
    out.unpersist(blocking=True)
    assert persistent_ids() - before == set(), "result unpersist must leave nothing behind"
