"""Seeded inputs for the benchmark, generated at the start of every run.

The seed shifts the generated id range. The coordinate model in
`sources/synth.py` is a pure function of the id, so coordinates and page
text change with the seed while the same SQL fragments still give the
ground truth.

Inputs are generated in the run's own Spark session, before any timed
step and outside `setup_s`, and never cached: a second JVM started only to
generate them would cost another ~10 s a run, and a cached input would let
some runs start with a colder JVM than others.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import functions as F

# Pages per event. Page ids are event_id * FANOUT + i and the synth model
# multiplies ids by 2654435761 in 64-bit arithmetic, so every id must stay
# below ~3.4e9.
FANOUT = 2
# incremental_sync batches: consecutive id (hence warc_ts) slices of this
# many pages; the reference polls ≤10k notes per API call
SLICE_PAGES = 5_000
# incremental_sync generates this many slices: its warm pass and timed
# batches use the first few, and a small input still gets all of them
SYNC_SLICES = 10
_SEED_SPAN = 251
_EVENT_STRIDE = 1_000_000
_T0 = 1_704_067_200  # 2024-01-01 UTC; one event per second from here


def event_base(seed: int) -> int:
    return (seed % _SEED_SPAN) * _EVENT_STRIDE


def slice_pages(n_events: int) -> int:
    return max(1, min(SLICE_PAGES, n_events * FANOUT // SYNC_SLICES))


def sync_events(n_events: int) -> int:
    """Events behind incremental_sync's SYNC_SLICES slices: the first pages
    of the population crawl_batch reads at the same seed and scale."""
    return min(n_events, -(-SYNC_SLICES * slice_pages(n_events) // FANOUT))


def write_events(duck, path: str, seed: int, n_events: int) -> None:
    """`n_events` synthetic events from the seed's id range, written by
    DuckDB: a Spark job here would only warm the JVM the run measures."""
    base = event_base(seed)
    os.makedirs(path, exist_ok=True)
    duck.execute(
        f"""COPY (SELECT id AS event_id, to_timestamp({_T0} + id - {base}) AS ts,
                         id % 997 AS user_id,
                         ['view', 'click', 'purchase', 'signup', 'error'][id % 5 + 1] AS event_type,
                         id % 1000 / 7.0 AS value,
                         '{{"k": ' || (id % 100)::VARCHAR || '}}' AS props
                  FROM range({base}, {base + n_events}) t(id))
            TO '{os.path.join(path, "events.parquet")}' (FORMAT parquet)"""
    )


def write_pages(spark, duck, path: str, seed: int, n_events: int) -> str:
    """Common-Crawl-style pages: `n_events` events, each fanned out to
    FANOUT pages by `sources.synth.pages_df`. Returns `<path>/pages`."""
    from osm_notes_ingestion_spark.sources.synth import pages_df

    write_events(duck, path, seed, n_events)
    out = os.path.join(path, "pages")
    pages_df(spark, path, fanout=FANOUT).write.parquet(out)
    return out


def write_slices(spark, duck, path: str, seed: int, n_events: int) -> str:
    """The first pages of the same population as consecutive id ranges of
    `slice_pages(n_events)` pages, one directory per slice. `warc_ts` rises
    with the id, so each slice is a warc_ts slice: one poll batch. Returns
    `<path>/slices`, holding `slice=<i>/`."""
    from osm_notes_ingestion_spark.sources.synth import pages_df

    write_events(duck, path, seed, sync_events(n_events))
    out = os.path.join(path, "slices")
    first = event_base(seed) * FANOUT
    slice_no = F.floor((F.col("id") - F.lit(first)) / F.lit(slice_pages(n_events))).cast("int")
    pages_df(spark, path, fanout=FANOUT).withColumn("slice", slice_no).write.partitionBy("slice").parquet(out)
    return out


def knn_queries(seed: int, n: int) -> list[tuple[int, float, float]]:
    """Seeded query points, rounded to whole microdegrees so the kNN operator
    and its brute-force twin see identical coordinates."""
    rng = np.random.default_rng(seed)
    lat = np.round(rng.uniform(-80.0, 80.0, n), 6)
    lon = np.round(rng.uniform(-180.0, 180.0, n), 6)
    return [(i + 1, float(a), float(b)) for i, (a, b) in enumerate(zip(lat, lon))]
