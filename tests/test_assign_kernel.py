"""The assignment kernel's output contract, on both entry points:
assign_countries and fused_extract_assign (one mapInArrow each)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from osm_notes_ingestion_spark.functions.cells import cell_col
from osm_notes_ingestion_spark.operators.extract import extract_pages
from osm_notes_ingestion_spark.operators.fused import fused_extract_assign
from osm_notes_ingestion_spark.operators.spatial_join import NO_MATCH, assign_countries
from osm_notes_ingestion_spark.sources.polygons import prep_polygons
from osm_notes_ingestion_spark.sources.synth import pages_df, world_polygons


def test_null_coordinates_and_keep_cols(spark):
    """Null lat → NULL cell and country_id; lat without lon → NULL cell,
    NO_MATCH; keep columns (any type) pass through untouched; the cell is
    the JVM encoder's."""
    index = prep_polygons(world_polygons(), level=7)
    ts = dt.datetime(2024, 1, 2, 3, 4, 5)
    pts = spark.createDataFrame(
        [
            (1, "a", ts, 40.5, -3.7),
            (2, "b", None, None, None),
            (3, None, ts, 10.0, None),
            (4, "d", ts, -0.5, -150.0),
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
    for i in (1, 4):
        assert got[i].cell == got[i].jvm_cell
        assert got[i].country_id is not None
    assert (got[2].cell, got[2].country_id, got[2].n_candidates, got[2].refined) == (None, None, 0, False)
    assert (got[3].cell, got[3].country_id, got[3].n_candidates, got[3].refined) == (None, NO_MATCH, 0, False)


def test_fused_cell_equals_assign_cell(spark, sf_dir):
    """The fused pass emits the exact int64 cell (no float64 round trip)."""
    index = prep_polygons(world_polygons(), level=9)
    pages = pages_df(spark, sf_dir)
    fused = fused_extract_assign(spark, pages, index).select("id", "cell", "country_id")
    decl = assign_countries(spark, extract_pages(pages), index).select("id", "cell", "country_id")
    assert fused.exceptAll(decl).count() == 0
    assert decl.exceptAll(fused).count() == 0
