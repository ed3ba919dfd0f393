"""Committed golden files (FIXTURES.md §6) vs engine output at sf0.001.

The goldens were generated by tools-independent brute force (exhaustive
points_in_rings over all polygons, numpy tile binning, exhaustive kNN)
and committed — the engine's cover/join/ring machinery must reproduce
them exactly, forever.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from osm_notes_ingestion_spark.operators.extract import extract_pages
from osm_notes_ingestion_spark.operators.knn import knn
from osm_notes_ingestion_spark.operators.spatial_join import assign_countries
from osm_notes_ingestion_spark.operators.tiles import tile_counts
from osm_notes_ingestion_spark.sources.polygons import prep_polygons
from osm_notes_ingestion_spark.sources.synth import pages_df, world_polygons

GOLD = os.path.join(os.path.dirname(__file__), "goldens")
SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def ext(spark):
    df = extract_pages(pages_df(spark, SF)).cache()
    yield df
    df.unpersist()  # a later module's plan over the same pages must run its own extraction


def test_golden_assignments(spark, ext):
    index = prep_polygons(world_polygons(), level=8)
    got = (
        assign_countries(spark, ext, index)
        .select("id", "country_id")
        .toPandas()
        .sort_values("id")
        .reset_index(drop=True)
    )
    exp = pd.read_csv(f"{GOLD}/golden_assignments_sf0.001.csv")
    assert (got["id"].values == exp["id"].values).all()
    g = got["country_id"].astype("Float64")
    e = exp["country_id"].astype("Float64")
    neq = ~(g.eq(e) | (g.isna() & e.isna()))
    assert not neq.any(), got[neq.to_numpy(dtype=bool)].head()


@pytest.mark.parametrize("z", [4, 7])
def test_golden_tiles(spark, ext, z):
    got = (
        tile_counts(ext.where(F.col("has_coords")), max_zoom=z, min_zoom=z)
        .toPandas()
        .sort_values(["x", "y"])
        .reset_index(drop=True)
    )
    exp = pd.read_csv(f"{GOLD}/golden_tiles_z{z}.csv").sort_values(["x", "y"]).reset_index(drop=True)
    assert got[["x", "y", "cnt"]].astype("int64").equals(exp[["x", "y", "cnt"]].astype("int64"))


def test_golden_knn(spark, ext):
    pts = ext.where(F.col("has_coords"))
    got = (
        knn(spark, pts, [(1, 35.0, -100.0), (2, 0.0, 60.0), (3, -5.0, 179.9)], k=5, level=5)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    exp = pd.read_csv(f"{GOLD}/golden_knn.csv")
    assert got[["query_id", "rank", "id", "d2"]].astype("int64").equals(
        exp[["query_id", "rank", "id", "d2"]].astype("int64")
    )


def test_text_kernel_equals_python_lazy_re():
    """The kernel's RE2 text capture (`(?s)<p class="c">(.*?)</p>`, then
    the entity decode) equals Python re's lazy '<p class="c">([\\s\\S]*?)</p>'
    plus the same decode, on the adversarial shapes (unclosed tag,
    nested opening tag, empty capture, multiline, markup inside)."""
    import re

    import pyarrow as pa

    from osm_notes_ingestion_spark.operators.extract import _ENTITIES, _extract_batch

    lazy = re.compile(r'<p class="c">([\s\S]*?)</p>')

    def expected(html):
        m = lazy.search(html) if html is not None else None
        if m is None:
            return None
        text = m.group(1)
        for ent, ch in _ENTITIES:
            text = text.replace(ent, ch)
        return text

    adv = [
        '<p class="c">x</p>',
        '<p class="c">no close',
        "no open</p>",
        '<p class="c">a<p class="c">b</p>c</p>',
        "",
        None,
        '<p class="c"></p>',
        'pre<p class="c">multi\nline</p>post',
        '<p class="c">a<b>bold</b> &lt;tag&gt;</p>',
        '<p class="x">other</p><p class="c">ours</p>',
    ]
    n = len(adv)
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array(range(n), pa.int64()),
            pa.array([""] * n),
            pa.array([None] * n, pa.timestamp("us", tz="UTC")),
            pa.array([""] * n),
            pa.array(adv, pa.string()),
        ],
        names=["id", "url", "warc_ts", "lang", "html"],
    )
    got = _extract_batch(batch).column("text").to_pylist()
    assert got == [expected(h) for h in adv]
