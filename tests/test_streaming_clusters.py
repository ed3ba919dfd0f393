"""Streaming cluster maintenance (streaming/clusters.py): settled labels
≡ batch grid_cluster after every prefix, replay idempotence, and the
spatial bucket-pruning contract (a batch reads only its ring-2 buckets).
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from osm_notes_ingestion_spark.operators.clustering import grid_cluster
from osm_notes_ingestion_spark.streaming.clusters import (
    cluster_labels,
    process_cluster_batch,
)

EPS, MIN_PTS = 1_000_000, 3

B1 = [
    (1, 0, 0), (2, 0, 400_000), (3, 400_000, 0),            # blob A (core)
    (10, 0, 20_000_000), (11, 0, 20_400_000),               # B (pre-core)
    (50, 50_000_000, 50_000_000),                           # noise
]
B2 = [
    (12, 400_000, 20_000_000),                              # B promotes
    (4, 900_000, 900_000),                                  # border of A
]
B3 = [
    (5, 0, 800_000), (6, 0, 1_200_000), (7, 0, 1_600_000),  # C merges into A
    (60, 0, -179_900_000), (61, 0, 179_900_000),            # wrap pair
    (62, 400_000, 179_900_000),                             # wrap trio core
]


def _mk(spark, rows):
    return spark.createDataFrame(rows, "id long, lat_e6 long, lon_e6 long")


def _settled(spark, root):
    return {r["id"]: (r["cluster"], r["role"]) for r in cluster_labels(spark, root).collect()}


def _full(spark, rows):
    return {
        r["id"]: (r["cluster"], r["role"])
        for r in grid_cluster(_mk(spark, rows), EPS, MIN_PTS).collect()
    }


@pytest.mark.parametrize("scheme", ["", "file://"], ids=["path", "file_uri"])
def test_settled_equals_batch_after_each_prefix(spark, tmp_path, scheme):
    root = scheme + str(tmp_path / "store")
    seen = []
    for i, batch in enumerate((B1, B2, B3)):
        process_cluster_batch(spark, _mk(spark, batch), i, root, EPS, MIN_PTS, n_buckets=8)
        seen += batch
        assert _settled(spark, root) == _full(spark, seen), f"prefix through batch {i}"


def test_replay_is_idempotent(spark, tmp_path):
    root = str(tmp_path / "store")
    for i, batch in enumerate((B1, B2)):
        process_cluster_batch(spark, _mk(spark, batch), i, root, EPS, MIN_PTS, n_buckets=8)
    before = _settled(spark, root)
    # replay batch 1 (crash-recovery path): same rows rewritten, labels
    # re-seeded from gen 0, result unchanged
    process_cluster_batch(spark, _mk(spark, B2), 1, root, EPS, MIN_PTS, n_buckets=8)
    assert _settled(spark, root) == before
    # and the stream continues correctly after the replay
    process_cluster_batch(spark, _mk(spark, B3), 2, root, EPS, MIN_PTS, n_buckets=8)
    assert _settled(spark, root) == _full(spark, B1 + B2 + B3)


def test_reads_are_bucket_pruned(spark, tmp_path, monkeypatch):
    """A small localized batch must read strictly fewer point buckets
    than exist in the store."""
    import osm_notes_ingestion_spark.streaming.clusters as sc

    root = str(tmp_path / "store")
    rng = np.random.default_rng(1)
    spread = [
        (int(i), int(rng.integers(-80e6, 80e6)), int(rng.integers(-170e6, 170e6)))
        for i in range(300)
    ]
    process_cluster_batch(spark, _mk(spark, spread), 0, root, EPS, MIN_PTS, n_buckets=16)
    n_store_buckets = len([d for d in os.listdir(f"{root}/points") if d.startswith("bkt=")])

    read_counts = []
    orig = sc._pruned_store

    def spy(spark_, r, schema, buckets, before):
        read_counts.append((os.path.basename(r), len(buckets)))
        return orig(spark_, r, schema, buckets, before)

    monkeypatch.setattr(sc, "_pruned_store", spy)
    local = [(1000 + i, 0, i * 200_000) for i in range(5)]  # one tiny area
    process_cluster_batch(spark, _mk(spark, local), 1, root, EPS, MIN_PTS, n_buckets=16)
    assert read_counts, "pruned reader not exercised"
    for name, n in read_counts:
        assert n < n_store_buckets, (name, n, n_store_buckets)
    # correctness unaffected by pruning
    assert _settled(spark, root) == _full(spark, spread + local)


def test_real_stream_settled_equals_batch(spark, tmp_path):
    """Through readStream + foreachBatch (NOT direct calls): the batch
    df executes on a CLONED session, which is exactly where the
    static-overwrite wipe bug lived — a session-conf
    partitionOverwriteMode never reaches the clone, so each micro-batch
    erased its predecessors' store partitions. Pin the fix (per-write
    option) end to end."""
    from osm_notes_ingestion_spark.streaming.clusters import streaming_clusters

    src = str(tmp_path / "src")
    root = str(tmp_path / "store")
    rows = B1 + B2 + B3
    df = _mk(spark, rows)
    # 3 files -> 3 micro-batches (maxFilesPerTrigger=1)
    df.repartition(3).write.mode("overwrite").parquet(src)
    q = streaming_clusters(spark, src, df.schema, root, eps_e6=EPS, min_pts=MIN_PTS, n_buckets=8)
    q.awaitTermination()
    # every staged point must survive in the store (the wipe bug lost
    # all but the last batch), and labels must equal the batch operator
    import pyspark.sql.functions as F  # noqa: N812

    n_store = spark.read.parquet(f"{root}/points").count()
    assert n_store == len(rows)
    assert _settled(spark, root) == _full(spark, rows)


def test_compaction_preserves_labels_and_bounds_children(spark, tmp_path):
    """compact_cluster_store folds settled batches into one generation:
    settled labels unchanged, per-bucket child count ≤ 1 + keep_batches,
    nbinc genuinely aggregated (≤ one row per id in the generation),
    dead border edges dropped, stale label gens pruned — and the kept
    newest batch replays identically afterwards."""
    import os

    from osm_notes_ingestion_spark.streaming.clusters import compact_cluster_store

    root = str(tmp_path / "store")
    # S (id 70) is a border of blob A in batch 0; T (id 71, batch 1)
    # promotes S to core (S's old border edge goes DEAD — monotone core)
    # and becomes a border of S itself. Gives compaction real dead AND
    # live border edges to distinguish.
    batches = (B1 + [(70, 0, -999_999)], [(71, 0, -1_200_000)] + B2, B3)
    for i, batch in enumerate(batches):
        process_cluster_batch(spark, _mk(spark, batch), i, root, EPS, MIN_PTS, n_buckets=8)
    before = _settled(spark, root)
    assert before[70][1] == "core" and before[71][1] == "border"  # fixture sanity

    gen = compact_cluster_store(spark, root, keep_batches=1)
    assert gen == 1
    assert _settled(spark, root) == before
    for sub in ("points", "nbinc", "border"):
        sroot = f"{root}/{sub}"
        if not os.path.exists(sroot):
            continue
        for bk in os.listdir(sroot):
            if bk.startswith("bkt="):
                kids = [d for d in os.listdir(f"{sroot}/{bk}") if d.startswith("batch_id=")]
                assert len(kids) <= 2, (sub, bk, kids)  # gen + newest batch
    # nbinc aggregation: the generation holds ≤ one row per id
    import pyspark.sql.functions as F  # noqa: N812

    nb = spark.read.parquet(f"{root}/nbinc").where("batch_id < 0")
    dup = nb.groupBy("id").count().where("count > 1").count()
    assert dup == 0
    # dead border edges (id now core) are gone from the generation —
    # S's batch-0 edge must NOT survive, T's live edge must
    labels = spark.read.parquet(f"{root}/labels")
    core_ids = {r["node"] for r in labels.select("node").distinct().collect()}
    bdr = spark.read.parquet(f"{root}/border").where("batch_id < 0")
    gen_border_ids = {r["id"] for r in bdr.select("id").distinct().collect()}
    assert 70 not in gen_border_ids and 71 in gen_border_ids
    assert not gen_border_ids & core_ids
    # stale label generations pruned to the newest two
    gens = [d for d in os.listdir(f"{root}/labels") if d.startswith("gen=")]
    assert len(gens) <= 2
    # the kept newest batch replays identically over the compacted store
    process_cluster_batch(spark, _mk(spark, B3), 2, root, EPS, MIN_PTS, n_buckets=8)
    assert _settled(spark, root) == before


def test_compaction_crash_rollback(spark, tmp_path):
    """A crash BEFORE commit (markers present, partial generation) must
    roll back on the next compact call; the batch path refuses to run
    while markers exist."""
    import os

    from osm_notes_ingestion_spark.streaming.clusters import compact_cluster_store

    root = str(tmp_path / "store")
    for i, batch in enumerate((B1, B2)):
        process_cluster_batch(spark, _mk(spark, batch), i, root, EPS, MIN_PTS, n_buckets=8)
    before = _settled(spark, root)
    # simulate the pre-commit crash: markers exist, no 'committed'
    os.makedirs(f"{root}/_compact/gen=-1")
    os.makedirs(f"{root}/_compact/keep=1")
    with pytest.raises(ValueError, match="unfinished compaction"):
        process_cluster_batch(spark, _mk(spark, B3), 2, root, EPS, MIN_PTS, n_buckets=8)
    # recovery + fresh fold: rollback happens inside the next compact
    gen = compact_cluster_store(spark, root, keep_batches=1)
    assert gen >= 1
    assert _settled(spark, root) == before


def test_bucket_count_change_raises(spark, tmp_path):
    """A batch with another n_buckets hashes its ring cells into buckets
    that never match the directories on disk, so it would silently miss
    the old points; the store's layout check refuses it instead."""
    root = str(tmp_path / "store")
    process_cluster_batch(spark, _mk(spark, B1), 0, root, EPS, MIN_PTS, n_buckets=8)
    with pytest.raises(ValueError, match="n_store_buckets"):
        process_cluster_batch(spark, _mk(spark, B2), 1, root, EPS, MIN_PTS, n_buckets=16)
