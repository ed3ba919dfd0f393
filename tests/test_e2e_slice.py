"""End-to-end slice: pages → extract → cell-join → country assignment.

Oracle: pure numpy brute force (every point against every polygon in
(priority, id) order) — independent of the engine's cover/refine path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from osm_notes_ingestion_spark.functions.geometry import PolygonPack, points_in_rings
from osm_notes_ingestion_spark.operators.extract import extract_pages
from osm_notes_ingestion_spark.operators.spatial_join import (
    assign_countries,
    assign_countries_distributed,
)
from osm_notes_ingestion_spark.sources.polygons import (
    prep_polygons,
    prep_polygons_distributed,
    ring_rows_df,
)
from osm_notes_ingestion_spark.sources.synth import pages_df, world_polygons


def brute_force_assign(lat: np.ndarray, lon: np.ndarray, polys: list[dict]) -> np.ndarray:
    """(priority, country_id)-ordered first-match; -1 for none."""
    out = np.full(len(lat), -1, dtype=np.int64)
    todo = np.ones(len(lat), dtype=bool)
    for p in sorted(polys, key=lambda p: (p["priority"], p["country_id"])):
        if not todo.any():
            break
        inside = points_in_rings(lon[todo], lat[todo], p["rings"])
        idx = np.flatnonzero(todo)[inside]
        out[idx] = p["country_id"]
        todo[idx] = False
    return out


@pytest.fixture(scope="module")
def extracted(spark, sf_dir):
    df = extract_pages(pages_df(spark, sf_dir)).cache()
    yield df
    df.unpersist()  # a later module's plan over the same pages must run its own extraction


def test_extraction_finds_coords(extracted):
    pdf = extracted.toPandas()
    assert len(pdf) > 0
    # ~90% of pages should have valid coords, ~3% rejected
    frac_valid = pdf["has_coords"].mean()
    assert 0.85 < frac_valid < 0.95
    assert pdf["rejected"].sum() > 0
    # every valid lat within range
    v = pdf[pdf["has_coords"]]
    assert v["lat"].between(-90, 90).all()
    assert v["lon"].between(-180, 180).all()


def test_extraction_text_roundtrip(extracted, spark, sf_dir):
    """Byte-identical text per url (input_hint invariant)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").toPandas()
    expected = (
        "Doc #"
        + ev["event_id"].astype(str)
        + "\n<"
        + ev["event_type"]
        + "> & "
        + ev["props"]
        + np.where(ev["event_id"] % 7 == 0, " Côte d'Ivoire", "")
    )
    got = extracted.select("id", "text").toPandas().set_index("id")["text"]
    exp = pd.Series(expected.values, index=ev["event_id"].values)
    got, exp = got.sort_index(), exp.sort_index()
    assert (got.index == exp.index).all()
    mismatches = got.values != exp.values
    assert not mismatches.any(), f"text mismatch e.g. {got.values[mismatches][:3]} vs {exp.values[mismatches][:3]}"
    # byte-level check
    assert all(g.encode() == e.encode() for g, e in zip(got.values, exp.values))


def test_assignment_matches_brute_force(spark, extracted):
    polys = world_polygons()
    index = prep_polygons(polys, level=7)
    assigned = assign_countries(spark, extracted, index).toPandas().set_index("id").sort_index()

    valid = assigned["lat"].notna()
    bf = brute_force_assign(
        assigned.loc[valid, "lat"].to_numpy(),
        assigned.loc[valid, "lon"].to_numpy(),
        polys,
    )
    got = assigned.loc[valid, "country_id"].to_numpy(dtype=np.int64)
    diff = got != bf
    assert not diff.any(), (
        f"{diff.sum()} mismatches; sample: "
        f"{assigned.loc[valid].iloc[np.flatnonzero(diff)[:5]][['lat', 'lon', 'country_id']]} vs {bf[np.flatnonzero(diff)[:5]]}"
    )
    # no-coords pages must be null
    assert assigned.loc[~valid, "country_id"].isna().all()
    # skew sanity: hot polygons dominate
    counts = assigned.loc[valid, "country_id"].value_counts()
    assert counts.get(1, 0) > 0.2 * valid.sum()


def test_partitioned_variant_agrees(spark, extracted):
    """The cell-partitioned distributed path equals the broadcast path
    at level 7 on every located page."""
    polys = world_polygons()
    index = prep_polygons(polys, level=7)
    located = extracted.where(F.col("lat").isNotNull())
    want = {r.id: r.country_id for r in assign_countries(spark, located, index).collect()}
    cover = prep_polygons_distributed(spark, ring_rows_df(spark, polys), level=7)
    got = {r.id: r.country_id for r in assign_countries_distributed(spark, located, cover, level=7).collect()}
    assert len(want) > 0 and got == want


def test_pip_edge_conventions():
    """Pin PIP semantics on hole / concave / wrap shapes directly."""
    polys = world_polygons()
    pack = PolygonPack.build(polys)
    idx = pack.index_of_id()
    # inside Holey outer but in hole → not contained by Holey
    assert not pack.contains(idx[4], np.array([-45.0]), np.array([-35.0]))[0]
    assert pack.contains(idx[4], np.array([-55.0]), np.array([-45.0]))[0]
    # wrapland: both sides of the antimeridian
    assert pack.contains(idx[5], np.array([179.5]), np.array([0.0]))[0]
    assert pack.contains(idx[5], np.array([-179.5]), np.array([0.0]))[0]
    assert not pack.contains(idx[5], np.array([169.0]), np.array([0.0]))[0]
    # diamond slanted edges
    assert pack.contains(idx[3], np.array([60.0]), np.array([9.999999]))[0]
    assert not pack.contains(idx[3], np.array([60.0]), np.array([10.000001]))[0]
    # polar cap
    assert pack.contains(idx[6], np.array([12.0]), np.array([89.9]))[0]


def test_extraction_survives_malformed_utf8(spark):
    """A poisoned page (invalid UTF-8 bytes) must not kill the job —
    Spark 4 ANSI decode() throws; the engine's cast+make_valid_utf8 path
    replaces with U+FFFD. Valid rows in the same batch stay byte-exact."""
    import datetime

    from osm_notes_ingestion_spark.operators.extract import extract_pages
    from osm_notes_ingestion_spark.operators.fused import fused_extract_assign
    from osm_notes_ingestion_spark.sources.polygons import prep_polygons
    from osm_notes_ingestion_spark.sources.synth import world_polygons

    good_html = b'<meta name="geo.position" content="35.000000;-100.000000"><p class="c">ok</p>'
    rows = [
        (1, "u1", datetime.datetime(2024, 1, 1), bytearray(b"\x00\xff\x10 garbage"), "x", "en"),
        (2, "u2", datetime.datetime(2024, 1, 1), bytearray(good_html), "x", "en"),
    ]
    schema = "id long, url string, warc_ts timestamp, html binary, text string, lang string"
    df = spark.createDataFrame(rows, schema)

    ext = {r.id: r for r in extract_pages(df).collect()}
    assert len(ext) == 2
    assert not ext[1].has_coords
    assert ext[2].has_coords and ext[2].lat_e6 == 35000000 and ext[2].text == "ok"

    index = prep_polygons(world_polygons(), level=7)
    fused = {r.id: r for r in fused_extract_assign(spark, df, index).collect()}
    assert fused[1].country_id is None
    assert fused[2].country_id == 1 and fused[2].text == "ok"  # Hotland
