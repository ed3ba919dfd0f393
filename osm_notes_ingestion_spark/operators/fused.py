"""Fused extract+assign: ONE Arrow round trip for the raw-page hot path.

A composition, not a second implementation: one mapInPandas runs the
extraction body (`extract._extract_batch`) and then the assignment
kernel (`spatial_join._assign_block`) on the same batch, so pages cross
the JVM↔Python boundary once instead of once per operator. The output
is extraction's columns plus assign_countries' (cell, country_id,
n_candidates, refined); tests/test_fused.py holds the two paths equal
row for row.

At 100 TB the pass is still embarrassingly parallel (map-only, cover and
polygon pack broadcast once per executor). Use the declarative pair
(extract_pages → assign_countries) when composing with other relational
operators; use this for the raw throughput pipeline (bench, runner).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .extract import EXTRACT_SCHEMA, _extract_batch
from .spatial_join import _assign_block, _cover_broadcast
from ..sources.polygons import PolygonIndex

FUSED_SCHEMA = EXTRACT_SCHEMA + ", cell long, country_id long, n_candidates int, refined boolean"


def fused_extract_assign(
    spark: SparkSession, pages: DataFrame, index: PolygonIndex
) -> DataFrame:
    bc = _cover_broadcast(spark, index)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lk = bc.value
        for pdf in it:
            out = _extract_batch(pdf)
            located = out["has_coords"].to_numpy()
            cell, country, ncand, refined = _assign_block(
                lk,
                out["lat"].to_numpy(dtype=np.float64),
                out["lon"].to_numpy(dtype=np.float64),
                located,
            )
            out["cell"] = pd.arrays.IntegerArray(cell, ~located)
            out["country_id"] = pd.arrays.IntegerArray(country, ~located)
            out["n_candidates"] = ncand
            out["refined"] = refined
            yield out

    # lenient decode: ANSI-mode F.decode throws on malformed UTF-8 (see
    # operators/extract.py) — cast + make_valid_utf8 replaces instead
    decoded = pages.withColumn("html", F.expr("make_valid_utf8(CAST(html AS STRING))"))
    return decoded.mapInPandas(batches, schema=FUSED_SCHEMA)
