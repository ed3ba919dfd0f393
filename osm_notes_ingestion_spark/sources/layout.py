"""Spatial file layout: Z-order (Morton) clustering for parquet scans.

At 100 TB the dominant cost of a bbox query is the scan, and parquet
file/row-group min-max statistics prune it ONLY if spatially-near rows
land in the same files — a hash- or arrival-ordered layout gives every
file a near-global lat/lon envelope and prunes nothing. Writing the
table clustered by an interleaved-bit Morton code gives each file a
tight spatial envelope, so a bbox predicate skips all but the few files
whose envelope intersects it; the scan cost of a city-sized query drops
from O(corpus) to O(city).

Reference analog: the notes table is insert-ordered and PostGIS answers
bbox queries through a GiST R-tree (sql/wms/prepareDatabase.sql index
DDL); an immutable columnar lake has no secondary index, so the same
locality must be baked into file layout at write time. This is the
standard technique behind Delta/Iceberg OPTIMIZE ZORDER, implemented
here with plain DataFrame ops: a JVM-side bit-interleave key,
repartitionByRange on it (range partitioner = contiguous Morton
intervals per file), and an in-file sort so row groups inherit the
locality too.

Everything stays in whole-stage codegen: the key is ~4·bits shift/mask
terms folded with bitwise OR — no UDF, no Python.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_key(lat: Column, lon: Column, bits: int = 16) -> Column:
    """Morton code of (lat, lon), each quantized to `bits` bits.

    lat maps [-90, 90] -> [0, 2^bits), lon maps [-180, 180] likewise
    (values outside are clamped, so a stray coordinate degrades locality
    for its own row only — it can never throw under ANSI mode or push
    the key negative). lon occupies even bit positions, lat odd, so the
    key is a single non-negative long for bits <= 31.
    """
    if not 1 <= bits <= 31:
        raise ValueError(f"bits must be in [1, 31], got {bits}")
    n = 1 << bits
    qlat = F.least(
        F.greatest(F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(float(n))), F.lit(0)),
        F.lit(n - 1),
    ).cast("long")
    qlon = F.least(
        F.greatest(F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n))), F.lit(0)),
        F.lit(n - 1),
    ).cast("long")
    terms = []
    for i in range(bits):
        terms.append(F.shiftleft(F.shiftright(qlon, i).bitwiseAND(F.lit(1)), 2 * i))
        terms.append(F.shiftleft(F.shiftright(qlat, i).bitwiseAND(F.lit(1)), 2 * i + 1))
    key = terms[0]
    for t in terms[1:]:
        key = key.bitwiseOR(t)
    return key


def zorder_np(lat: np.ndarray, lon: np.ndarray, bits: int = 16) -> np.ndarray:
    """numpy twin of zorder_key — brute-force oracle for tests."""
    n = 1 << bits
    qlat = np.clip(np.floor((np.asarray(lat, np.float64) + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
    qlon = np.clip(np.floor((np.asarray(lon, np.float64) + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    key = np.zeros_like(qlat)
    for i in range(bits):
        key |= ((qlon >> i) & 1) << (2 * i)
        key |= ((qlat >> i) & 1) << (2 * i + 1)
    return key


def write_zordered(
    df: DataFrame,
    path: str,
    n_files: int,
    lat_col: str = "lat",
    lon_col: str = "lon",
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Write `df` as `n_files` parquet files clustered on the Morton key.

    repartitionByRange assigns each output file a contiguous Morton
    interval (range partitioner over a sampled key distribution — file
    SIZES stay balanced even under heavy spatial skew, unlike fixed
    space-partitioned schemes), and the within-file sort keeps row-group
    statistics tight so sub-file pruning works too. The key column is
    dropped before writing; layout is invisible to readers except
    through the statistics.

    100-TB note: this is a full shuffle + sort of the table — a one-time
    (or per-compaction) cost paid to make every subsequent bbox scan
    prune. Run it per partition/generation, not per query; the
    streaming stores' compaction step is the natural place.
    """
    key = zorder_key(F.col(lat_col), F.col(lon_col), bits).alias("__zkey")
    (
        df.withColumn("__zkey", key)
        .repartitionByRange(n_files, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.mode(mode)
        .parquet(path)
    )


def bbox_file_stats(path: str, lat_col: str = "lat", lon_col: str = "lon"):
    """Per-file (and per-row-group) lat/lon envelopes read from parquet
    footers — the statistics a scan planner prunes with. Driver-side by
    design: one footer read per file (metadata, not data), the same
    O(#files) listing cost any planner pays.

    Returns (files, rowgroups): lists of dicts with lat/lon min/max.

    QA/evidence helper for LOCAL paths (os.listdir + pyarrow footers);
    on an object store the scan planner itself does this pruning — use
    the engine's scan metrics there instead of this helper.
    """
    import math
    import os

    import pyarrow.parquet as pq

    files, rowgroups = [], []
    names = sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith("_")
    )
    for fname in names:
        md = pq.ParquetFile(fname).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        fenv = None
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            la = g.column(idx[lat_col]).statistics
            lo = g.column(idx[lon_col]).statistics
            env = {
                "file": fname,
                "lat_min": -math.inf,
                "lat_max": math.inf,
                "lon_min": -math.inf,
                "lon_max": math.inf,
            }
            # a row group written without min/max statistics cannot be
            # pruned: it keeps the whole-plane envelope
            if all(st is not None and st.has_min_max for st in (la, lo)):
                env.update(lat_min=la.min, lat_max=la.max, lon_min=lo.min, lon_max=lo.max)
            rowgroups.append(env)
            if fenv is None:
                fenv = dict(env)
            else:
                fenv["lat_min"] = min(fenv["lat_min"], env["lat_min"])
                fenv["lat_max"] = max(fenv["lat_max"], env["lat_max"])
                fenv["lon_min"] = min(fenv["lon_min"], env["lon_min"])
                fenv["lon_max"] = max(fenv["lon_max"], env["lon_max"])
        if fenv is not None:
            files.append(fenv)
    return files, rowgroups


def bbox_overlap_fraction(
    envs: list[dict],
    lat_min: float,
    lat_max: float,
    lon_min: float,
    lon_max: float,
) -> float:
    """Fraction of envelopes a bbox query cannot prune (intersecting)."""
    if not envs:
        return 0.0
    hit = sum(
        1
        for e in envs
        if not (
            e["lat_max"] < lat_min
            or e["lat_min"] > lat_max
            or e["lon_max"] < lon_min
            or e["lon_min"] > lon_max
        )
    )
    return hit / len(envs)
