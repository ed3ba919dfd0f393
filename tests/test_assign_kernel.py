"""The assignment kernel's output contract, on both entry points:
assign_countries and fused_extract_assign (one mapInArrow each); and the
shuffle-side path's winner pick, _first_contained_winner."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from osm_notes_ingestion_spark.functions.cells import cell_col
from osm_notes_ingestion_spark.operators.extract import extract_pages
from osm_notes_ingestion_spark.operators.fused import fused_extract_assign
from osm_notes_ingestion_spark.operators.spatial_join import (
    NO_MATCH,
    _first_contained_winner,
    assign_countries,
    assign_countries_distributed,
)
from osm_notes_ingestion_spark.sources.polygons import (
    prep_polygons,
    prep_polygons_distributed,
    ring_rows_df,
)
from osm_notes_ingestion_spark.sources.synth import pages_df, world_polygons


def test_null_coordinates_and_keep_cols(spark):
    """Null lat → NULL cell and country_id; lat without lon → NULL cell,
    NO_MATCH; keep columns (any type) pass through untouched; the cell is
    the JVM encoder's. The distributed path gives the same (cell,
    country_id) on every row: a NULL lon must not clamp to grid column 0
    (lat 0.5 there lies in Wrapland)."""
    index = prep_polygons(world_polygons(), level=7)
    ts = dt.datetime(2024, 1, 2, 3, 4, 5)
    pts = spark.createDataFrame(
        [
            (1, "a", ts, 40.5, -3.7),
            (2, "b", None, None, None),
            (3, None, ts, 10.0, None),
            (4, "d", ts, -0.5, -150.0),
            (5, "e", ts, 0.5, None),
        ],
        "pid long, tag string, seen timestamp, y double, x double",
    )
    out = assign_countries(
        spark, pts, index, id_col="pid", lat_col="y", lon_col="x", keep_cols=("tag", "seen")
    )
    assert out.columns == [
        "id", "tag", "seen", "lat", "lon", "cell", "country_id", "n_candidates", "refined",
    ]
    got = {r.id: r for r in out.withColumn("jvm_cell", cell_col(F.col("lat"), F.col("lon"), 7)).collect()}
    assert (got[1].tag, got[1].seen, got[3].tag, got[2].seen) == ("a", ts, None, None)
    for i in got:
        assert got[i].cell == got[i].jvm_cell
    for i in (1, 4):
        assert got[i].country_id is not None
    assert (got[2].cell, got[2].country_id, got[2].n_candidates, got[2].refined) == (None, None, 0, False)
    for i in (3, 5):
        assert (got[i].cell, got[i].country_id, got[i].n_candidates, got[i].refined) == (None, NO_MATCH, 0, False)

    cover = prep_polygons_distributed(spark, ring_rows_df(spark, world_polygons()), level=7)
    dist = assign_countries_distributed(spark, pts, cover, level=7, id_col="pid", lat_col="y", lon_col="x")
    assert {r.id: (r.cell, r.country_id) for r in dist.collect()} == {
        i: (r.cell, r.country_id) for i, r in got.items()
    }


def test_fused_cell_equals_assign_cell(spark, sf_dir):
    """The fused pass emits the exact int64 cell (no float64 round trip)."""
    index = prep_polygons(world_polygons(), level=9)
    pages = pages_df(spark, sf_dir)
    fused = fused_extract_assign(spark, pages, index).select("id", "cell", "country_id")
    decl = assign_countries(spark, extract_pages(pages), index).select("id", "cell", "country_id")
    assert fused.exceptAll(decl).count() == 0
    assert decl.exceptAll(fused).count() == 0


def _bitmask_contains(calls):
    """contains_fn for hand-built cases: a point's lon is the bitmask of
    the candidate ids that contain it."""

    def contains_fn(cid, lons, lats):
        calls.append(cid)
        return (lons.astype(np.int64) >> cid) & 1 == 1

    return contains_fn


def test_first_contained_winner_takes_first_contained_entry():
    cases = [  # (contender ids in list order, ids containing the point, fallback, winner)
        ([], [2], 7, 7),  # empty list keeps the fallback
        ([2], [2], 7, 2),  # a contained partial listed before the fallback wins
        ([4], [], 7, 7),  # a partial that does not contain the point leaves it
        ([5, 2], [2, 5], 7, 5),  # two contain it: the first in the list wins
        ([3, 6], [6], NO_MATCH, 6),
        ([1], [], NO_MATCH, NO_MATCH),
    ]
    lists = [[9, 9]] + [c[0] for c in cases]  # a leading row, sliced away
    contenders = pa.array(lists, pa.list_(pa.int64())).slice(1)
    lons = np.array([float(sum(1 << c for c in c_[1])) for c_ in cases])
    fallback = np.array([c[2] for c in cases], dtype=np.int64)
    want = [c[3] for c in cases]
    calls = []
    got = _first_contained_winner(lons, np.zeros(len(cases)), contenders, fallback, _bitmask_contains(calls))
    assert got.tolist() == want
    assert sorted(calls) == [1, 2, 3, 4, 5, 6]  # one vectorized test per candidate id
    assert fallback.tolist() == [c[2] for c in cases]  # the fallback array is not written
    # the cogroup refine passes its column as a ChunkedArray
    chunked = pa.chunked_array([contenders.slice(0, 2), contenders.slice(2)])
    got = _first_contained_winner(lons, np.zeros(len(cases)), chunked, fallback, _bitmask_contains([]))
    assert got.tolist() == want


def test_first_contained_winner_without_contenders():
    calls = []
    fallback = np.array([3, NO_MATCH, 4], dtype=np.int64)
    got = _first_contained_winner(
        np.full(3, 255.0), np.zeros(3), pa.array([[], [], []], pa.list_(pa.int64())),
        fallback, _bitmask_contains(calls),
    )
    assert got.tolist() == [3, NO_MATCH, 4]
    assert calls == []
