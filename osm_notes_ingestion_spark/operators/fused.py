"""Fused extract+assign: ONE Arrow round trip for the raw-page hot path.

A composition, not a second implementation: one mapInArrow runs the
extraction kernel (`extract._extract_batch`) and then the assignment
kernel (`spatial_join._assign_block`) on the extracted Arrow arrays, so
pages cross the JVM↔Python boundary once instead of once per operator.
The output is extraction's columns plus assign_countries' (cell,
country_id, n_candidates, refined); tests/test_fused.py holds the two
paths equal row for row.

At 100 TB the pass is still embarrassingly parallel (map-only, cover and
polygon pack broadcast once per executor). Use the declarative pair
(extract_pages → assign_countries) when composing with other relational
operators; use this for the raw throughput pipeline (bench, runner).
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession

from .extract import EXTRACT_SCHEMA, _extract_batch, _kernel_input
from .spatial_join import _assign_block, _cover_broadcast
from ..sources.polygons import PolygonIndex

FUSED_SCHEMA = EXTRACT_SCHEMA + ", cell long, country_id long, n_candidates int, refined boolean"


def fused_extract_assign(
    spark: SparkSession, pages: DataFrame, index: PolygonIndex
) -> DataFrame:
    bc = _cover_broadcast(spark, index)

    def extract_assign(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        lk = bc.value
        for b in batches:
            out = _extract_batch(b)
            located = out.column("has_coords").to_numpy(zero_copy_only=False)
            cell, country, ncand, refined = _assign_block(
                lk,
                pc.fill_null(out.column("lat"), float("nan")).to_numpy(),
                pc.fill_null(out.column("lon"), float("nan")).to_numpy(),
                located,
            )
            yield pa.RecordBatch.from_pydict({
                **dict(zip(out.schema.names, out.columns)),
                "cell": pa.array(cell, mask=~located),
                "country_id": pa.array(country, mask=~located),
                "n_candidates": ncand,
                "refined": refined,
            })

    return _kernel_input(pages).mapInArrow(extract_assign, schema=FUSED_SCHEMA)
