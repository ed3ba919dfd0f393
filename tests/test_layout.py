"""Z-order spatial file layout (sources/layout.py).

The claim under test is the 100-TB one: a bbox predicate over a
Morton-clustered parquet table prunes almost every file via footer
min/max statistics, while the same data in arrival order prunes
nothing. Pruning evidence is measured from the actual parquet footers
(pyarrow), not inferred from the plan.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from osm_notes_ingestion_spark.sources.layout import (
    bbox_file_stats,
    bbox_overlap_fraction,
    write_zordered,
    zorder_key,
    zorder_np,
)


def _uniform(spark, n=20000, seed=7):
    rng = np.random.default_rng(seed)
    lat = rng.uniform(-85.0, 85.0, n)
    lon = rng.uniform(-180.0, 180.0, n)
    rows = [(int(i), float(lat[i]), float(lon[i])) for i in range(n)]
    return spark.createDataFrame(rows, "id long, lat double, lon double")


def test_key_matches_numpy_twin(spark):
    rng = np.random.default_rng(3)
    lat = np.concatenate([rng.uniform(-95, 95, 500), [-90.0, 90.0, 0.0, 89.999]])
    lon = np.concatenate([rng.uniform(-190, 190, 500), [-180.0, 180.0, 0.0, 179.999]])
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lat, lon)], "lat double, lon double"
    )
    got = [
        r["k"]
        for r in df.select(zorder_key(F.col("lat"), F.col("lon"), 16).alias("k")).collect()
    ]
    want = zorder_np(lat, lon, 16).tolist()
    assert got == want


def test_key_is_nonnegative_and_bounded(spark):
    df = spark.createDataFrame(
        [(-90.0, -180.0), (90.0, 180.0), (1e9, -1e9)], "lat double, lon double"
    )
    ks = [r["k"] for r in df.select(zorder_key(F.col("lat"), F.col("lon"), 31).alias("k")).collect()]
    assert all(0 <= k < (1 << 62) for k in ks)


def test_roundtrip_preserves_rows(spark, tmp_path):
    df = _uniform(spark, 5000)
    p = str(tmp_path / "z")
    write_zordered(df, p, n_files=8)
    back = spark.read.parquet(p)
    assert back.columns == df.columns  # key column dropped
    assert sorted(r["id"] for r in back.collect()) == list(range(5000))


def test_zorder_prunes_random_does_not(spark, tmp_path):
    df = _uniform(spark, 20000)
    zp, rp = str(tmp_path / "zord"), str(tmp_path / "rand")
    write_zordered(df, zp, n_files=32)
    # arrival-order strawman: hash-shuffled into the same file count
    df.repartition(32).write.parquet(rp)

    files_z, rgs_z = bbox_file_stats(zp)
    files_r, _ = bbox_file_stats(rp)
    assert len(files_z) == 32 and len(files_r) == 32

    # a ~city/region-sized query: 10 x 10 degrees
    bbox = dict(lat_min=40.0, lat_max=50.0, lon_min=0.0, lon_max=10.0)
    frac_z = bbox_overlap_fraction(files_z, **bbox)
    frac_r = bbox_overlap_fraction(files_r, **bbox)
    # hash layout: every file spans the globe — nothing prunes
    assert frac_r >= 0.9, frac_r
    # z-order: the bbox touches a handful of Morton intervals
    assert frac_z <= 0.3, frac_z
    # row-group stats inherit the in-file sort: at least as selective
    frac_rg = bbox_overlap_fraction(rgs_z, **bbox)
    assert frac_rg <= frac_z + 1e-9, (frac_rg, frac_z)

    # and the pruned scan is CORRECT: reading with the predicate returns
    # the same rows from both layouts
    pred = (
        (F.col("lat") >= bbox["lat_min"]) & (F.col("lat") <= bbox["lat_max"])
        & (F.col("lon") >= bbox["lon_min"]) & (F.col("lon") <= bbox["lon_max"])
    )
    ids_z = sorted(r["id"] for r in spark.read.parquet(zp).where(pred).collect())
    ids_r = sorted(r["id"] for r in spark.read.parquet(rp).where(pred).collect())
    assert ids_z == ids_r and len(ids_z) > 0


def test_skewed_data_keeps_balanced_files(spark, tmp_path):
    # 90% of points in one city block — fixed space-partitioning would
    # put them all in one file; range partitioning on the key keeps
    # file sizes balanced (the property that matters for stragglers)
    rng = np.random.default_rng(11)
    n = 10000
    hot = rng.integers(0, n, size=n) < n * 9 // 10
    lat = np.where(hot, 48.8 + rng.uniform(-0.05, 0.05, n), rng.uniform(-85, 85, n))
    lon = np.where(hot, 2.35 + rng.uniform(-0.05, 0.05, n), rng.uniform(-180, 180, n))
    df = spark.createDataFrame(
        [(int(i), float(lat[i]), float(lon[i])) for i in range(n)],
        "id long, lat double, lon double",
    )
    p = str(tmp_path / "skew")
    write_zordered(df, p, n_files=16)
    import os

    sizes = sorted(
        os.path.getsize(os.path.join(p, f))
        for f in os.listdir(p)
        if f.endswith(".parquet")
    )
    # no file more than ~4x the median (range partitioner balances rows)
    assert sizes[-1] <= 4 * sizes[len(sizes) // 2], sizes


def test_rowgroups_without_statistics_are_unprunable(tmp_path):
    # a writer may skip min/max statistics: such a row group cannot be
    # pruned, so its envelope is the whole plane instead of a crash
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    p = tmp_path / "nostats"
    p.mkdir()
    table = pa.table({"id": [1, 2], "lat": [45.0, 46.0], "lon": [5.0, 6.0]})
    pq.write_table(table, str(p / "part-0.parquet"), write_statistics=False)
    files, rgs = bbox_file_stats(str(p))
    assert len(files) == 1 and len(rgs) == 1
    assert (rgs[0]["lat_min"], rgs[0]["lat_max"]) == (-math.inf, math.inf)
    assert (rgs[0]["lon_min"], rgs[0]["lon_max"]) == (-math.inf, math.inf)
    # a bbox far from the data still has to read it
    assert bbox_overlap_fraction(files, lat_min=-10, lat_max=-5, lon_min=0, lon_max=1) == 1.0
